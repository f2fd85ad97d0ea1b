package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StringType}
import graft.sources.Formats

/** Source/sink round-trips: every format preserves the events rows
  * bit-for-bit under an explicit schema, and the text formats quarantine
  * corrupt records instead of failing.
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private def base = Tables.load(spark, sfDir, "events")
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")

  test("parquet/orc/json/csv round-trip preserves rows exactly") {
    val df = base
    val expected = df.collect().map(_.toSeq).toSet
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val dir = Files.createTempDirectory(s"fmt_$fmt").toString
      Formats.write(df, dir, fmt)
      val back = Formats.read(spark, dir, fmt, df.schema)
      val got = back.collect().map(_.toSeq).toSet
      assert(got == expected, s"$fmt round-trip diverged")
    }
  }

  test("malformed JSON records land in _corrupt_record, good rows survive") {
    val dir = Files.createTempDirectory("fmt_corrupt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      """{"event_id": 1, "event_type": "view"}
        |{"event_id": oops not json
        |{"event_id": 3, "event_type": "click"}
        |""".stripMargin.getBytes("UTF-8"))
    val schema = new StructType()
      .add("event_id", "long").add("event_type", StringType)
      .add(Formats.CorruptCol, StringType)
    val out = Formats.read(spark, dir, "json", schema)
      .select($"event_id", $"event_type", col(Formats.CorruptCol)).cache()
    assert(out.filter(col(Formats.CorruptCol).isNotNull).count() == 1)
    assert(out.filter($"event_id".isNotNull).count() == 2)
  }

  test("schema evolution: mergeSchema unions columns across file generations; old rows read null") {
    // the 100 TB reality: month N's files carry columns month N-12 never
    // had. Pin the read contract: union of schemas, missing columns null,
    // and an EXPLICIT schema read stays pruned to what it asks for.
    val dir = Files.createTempDirectory("fmt_evolve").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v1", "v2")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "v1", "v2"))
    val rows = merged.select($"id", $"v2").as[(Long, Option[Long])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty)
    assert(rows(3L).contains(30L) && rows(4L).contains(40L))
    // explicit-schema read: old-generation files satisfy the asked-for
    // subset without mergeSchema, new columns simply not requested
    val narrow = spark.read
      .schema(new StructType().add("id", "long").add("v1", StringType))
      .parquet(dir)
    assert(narrow.count() == 4 && narrow.columns.toSeq == Seq("id", "v1"))
  }

  test("compaction shrinks a fragmented table without changing its rows") {
    val frag = Files.createTempDirectory("fmt_frag").toString + "/t"
    val compacted = Files.createTempDirectory("fmt_comp").toString + "/t"
    // 64-way write of a small table = pathological small files
    base.repartition(64).write.parquet(frag)
    val (_, nFilesBefore) = graft.sources.Maintenance.dirStats(spark, frag)
    assert(nFilesBefore >= 32)
    val nAfter = graft.sources.Maintenance.compact(
      spark, frag, compacted, targetBytes = 64L * 1024 * 1024)
    assert(nAfter == 1, s"expected 1 file, got $nAfter")
    val before = spark.read.parquet(frag).collect().map(_.toSeq).toSet
    val after = spark.read.parquet(compacted).collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("zorder layout: files tile BOTH dimensions; second-dim predicates skip files") {
    import graft.sources.Maintenance
    // a 64x64 grid: every (x, y) cell once
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).cast("int").as("x"),
      (col("id") / 64).cast("int").as("y"))
    val zdir = Files.createTempDirectory("fmt_z").toString + "/t"
    val ldir = Files.createTempDirectory("fmt_l").toString + "/t"
    Maintenance.zorderWrite(grid, "x", "y", nFiles = 16, dstDir = zdir, bits = 6)
    // the linear baseline: range-sorted by x only (classic single-key sort)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(ldir)
    // per-file bounding boxes, as parquet footer min/max stats would see them
    def boxes(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("y").as("ylo"), max("y").as("yhi"),
        min("x").as("xlo"), max("x").as("xhi"))
      .collect()
    val zb = boxes(zdir)
    val lb = boxes(ldir)
    assert(zb.length == 16 && lb.length == 16)
    // probe: WHERE y = 17 — count files whose [ylo, yhi] excludes it
    def skipped(bs: Array[org.apache.spark.sql.Row]) =
      bs.count(r => r.getInt(1) > 17 || r.getInt(2) < 17)
    assert(skipped(lb) == 0, "x-sorted files span all y: nothing skips")
    assert(skipped(zb) >= 8,
      s"z-order should skip most files on a y predicate, skipped ${skipped(zb)}")
    // no rows lost by the rewrite
    assert(spark.read.parquet(zdir).count() == 4096)
  }

  test("bucketed tables join with no shuffle and no sort") {
    import graft.sources.Maintenance
    val base = Files.createTempDirectory("fmt_bkt").toString
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val items = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    Maintenance.bucketWrite(orders, "o_orderkey", 4, "bkt_orders",
      s"$base/orders")
    Maintenance.bucketWrite(items, "o_orderkey", 4, "bkt_items",
      s"$base/items")
    // force a sort-merge plan (the hint goes on a join INPUT) so absence
    // of Exchange/Sort is the bucketed layout's doing
    val smj = spark.table("bkt_orders").hint("merge")
      .join(spark.table("bkt_items"), "o_orderkey")
    val expected = orders.join(items, "o_orderkey").count()
    assert(smj.count() == expected)
    val exec = smj.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"),
      s"bucketed join must not shuffle:\n$exec")
    assert(exec.contains("Bucketed: true"), s"scan must be bucketed:\n$exec")
    // since Spark 3.0 the scan reports bucket ORDERING only behind
    // spark.sql.legacy.bucketedTableScan.outputOrdering, so a residual
    // sort of each (already-sorted, single-file) bucket remains — it must
    // be in-partition (global = false), never a shuffle-backed global sort
    val sorts = exec.linesIterator.filter(_.trim.startsWith("+- Sort ")).toSeq
    assert(sorts.forall(_.contains("], false, 0")),
      s"sorts must be in-partition only:\n$exec")
    // bucket PRUNING: an equality predicate on the bucket key scans ONE
    // bucket of four — the point-lookup scale win bucketing buys beyond
    // shuffle-free joins. autoBucketedScan must be off: with no join to
    // exploit the distribution the planner de-buckets the scan, which
    // also forfeits pruning — a real deployment tuning note.
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(autoKey)
    try {
      spark.conf.set(autoKey, "false")
      val key = orders.select($"o_orderkey").as[Long].head()
      val point = spark.table("bkt_orders").filter($"o_orderkey" === key)
      val scan = point.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 1 out of 4"),
        s"point predicate must prune to one bucket:\n$scan")
      assert(point.count() == 1)
    } finally spark.conf.set(autoKey, prev)
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_items")
  }

  test("snapshots: time travel is exact, appends rewrite nothing, incremental reads are delta-sized") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_table").toString + "/docs"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").as[Long].collect().toSet
    val d1 = base.filter($"event_id" < 100)
    val d2 = base.filter($"event_id" >= 100 && $"event_id" < 150)
    val d3 = base.filter($"event_id" >= 900)

    assert(Snapshots.currentVersion(spark, table) == 0)
    val v1 = Snapshots.commitOverwrite(d1, table, "initial load")
    val v2 = Snapshots.commitAppend(d2, table, "daily delta")
    val v3 = Snapshots.commitOverwrite(d3, table, "rebuild")
    assert((v1, v2, v3) == ((1, 2, 3)))

    // time travel: every version readable and exact, latest = v3
    assert(rows(Snapshots.readVersion(spark, table, Some(1))) == rows(d1))
    assert(rows(Snapshots.readVersion(spark, table, Some(2))) == rows(d1) ++ rows(d2))
    assert(rows(Snapshots.readVersion(spark, table, Some(3))) == rows(d3))
    assert(rows(Snapshots.readVersion(spark, table)) == rows(d3))

    // append reuses the parent's files verbatim — no data rewrite
    val f1 = Snapshots.files(spark, table, 1)
    val f2 = Snapshots.files(spark, table, 2)
    assert(f1.forall(f2.contains), "v2 must reuse every v1 file")
    assert(f2.size > f1.size)

    // incremental read = only the delta's rows
    assert(rows(Snapshots.incrementalRead(spark, table, since = 1, until = Some(2)))
      == rows(d2))
    assert(Snapshots.incrementalRead(spark, table, since = 2, until = Some(2)).count() == 0)

    // file-level diff: v2→v3 drops all shared files, adds v3's
    val (added, removed) = Snapshots.diff(spark, table, 2, 3)
    assert(removed.toSet == f2.toSet && added.nonEmpty)
    assert(added.forall(_.contains("v00003-")))

    // the commit point is the manifest, claimed with create(overwrite =
    // false). Pin the FS contract that claim relies on: creating a path
    // that already exists must throw, so two racing committers of the
    // same version cannot both "win" — one fails loudly.
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(table, "_versions/claimprobe")
    fs.create(claim, false).close()
    intercept[Exception] { fs.create(claim, false).close() }
    fs.delete(claim, false)
  }

  test("snapshot commit race: racing overwrites BOTH land on serialized versions — a lost claim re-claims, last writer wins") {
    import graft.sources.Snapshots
    import java.util.concurrent.{CountDownLatch, Executors}
    val table = Files.createTempDirectory("snap_race").toString + "/t"
    Snapshots.commitOverwrite(Seq(1L).toDF("id"), table, "base")
    // both committers observe parent=1 and race for the version claim
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val results = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await()
          // an overwrite's content is parent-independent: a lost claim
          // re-claims the next version — no committer may throw
          Snapshots.commitOverwrite(
            Seq(100L + i).toDF("id"), table, s"racer $i")
        }
      })
    }
    gate.countDown()
    val wins = results.map(_.get())
    pool.shutdown()
    // the manifest create(overwrite = false) is the claim: at most one
    // manifest per version, so both landed on DISTINCT serialized versions
    assert(wins.sorted == Seq(2, 3), s"versions $wins")
    assert(Snapshots.currentVersion(spark, table) == 3)
    // every committed version reads back exactly one racer's full content
    // (overwrites never merge), and the final state is the later claim's
    wins.foreach { v =>
      val got = Snapshots.readVersion(spark, table, Some(v))
        .as[Long].collect().toSet
      assert(got == Set(100L) || got == Set(101L), s"v$v read $got")
    }
    assert(
      Snapshots.readVersion(spark, table, Some(2)).as[Long].collect().toSet
        != Snapshots.readVersion(spark, table, Some(3)).as[Long].collect().toSet,
      "v2 and v3 must carry the two distinct racer states")
  }

  test("snapshot append race: racing appenders BOTH succeed — rebase onto the new parent, serialized versions, union rows") {
    import graft.sources.Snapshots
    import java.util.concurrent.{CountDownLatch, Executors}
    val table = Files.createTempDirectory("snap_apprace").toString + "/t"
    Snapshots.commitOverwrite(Seq(1L).toDF("id"), table, "base")
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val results = (0 until 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await()
          // optimistic retry: a lost claim rebases and re-claims, so no
          // appender may throw
          Snapshots.commitAppend(
            Seq(100L + i).toDF("id"), table, s"appender $i")
        }
      })
    }
    gate.countDown()
    val versions = results.map(_.get()).sorted
    pool.shutdown()
    // all four landed, on distinct serialized versions 2..5
    assert(versions == Seq(2, 3, 4, 5), s"versions $versions")
    assert(Snapshots.currentVersion(spark, table) == 5)
    // the final version carries base + EVERY delta exactly once
    val finalRows = Snapshots.readVersion(spark, table)
      .as[Long].collect().sorted.toSeq
    assert(finalRows == Seq(1L, 100L, 101L, 102L, 103L), s"rows $finalRows")
    // intermediate versions are consistent prefixes: v(k) = base + k deltas
    versions.foreach { v =>
      val rows = Snapshots.readVersion(spark, table, Some(v))
        .as[Long].collect().toSet
      assert(rows.size == v, s"v$v has ${rows.size} rows: $rows")
      assert(rows.contains(1L) && rows.forall(r => r == 1L || r >= 100L))
    }
    // incremental reads still see each delta exactly once across the race
    val delta = Snapshots.incrementalRead(spark, table, since = 1)
      .as[Long].collect().sorted.toSeq
    assert(delta == Seq(100L, 101L, 102L, 103L), s"delta $delta")
  }

  test("snapshot compaction: rows identical, files shrink, time travel intact, incremental reads stay row-neutral") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_compact").toString + "/docs"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").as[Long].collect().toSet
    val d1 = base.filter($"event_id" < 200).repartition(16) // fragmented
    val d2 = base.filter($"event_id" >= 200 && $"event_id" < 260)
      .repartition(8)
    val v1 = Snapshots.commitOverwrite(d1, table, "fragmented load")
    val v2 = Snapshots.commitAppend(d2, table, "daily delta")
    assert(Snapshots.files(spark, table, v2).size >= 24)

    val v3 = Snapshots.compact(spark, table)
    assert(v3 == 3)
    assert(Snapshots.noteOf(spark, table, v3)
      .startsWith(Snapshots.RewriteNotePrefix))
    // identical logical content, far fewer files
    assert(rows(Snapshots.readVersion(spark, table, Some(v3)))
      == rows(d1) ++ rows(d2))
    assert(Snapshots.files(spark, table, v3).size
      < Snapshots.files(spark, table, v2).size / 2)
    // time travel to PRE-compaction versions still exact (rewritten
    // files remain on disk; reclaiming them is retention's job)
    assert(rows(Snapshots.readVersion(spark, table, Some(v1))) == rows(d1))
    assert(rows(Snapshots.readVersion(spark, table, Some(v2)))
      == rows(d1) ++ rows(d2))

    // compaction adds NO logical rows to the incremental feed...
    assert(Snapshots.incrementalRead(spark, table, since = v2,
      until = Some(v3)).count() == 0)
    // ...and a delta committed BEFORE it still reads exactly once across
    // the compaction boundary (via the original immutable files)
    assert(rows(Snapshots.incrementalRead(spark, table, since = v1,
      until = Some(v3))) == rows(d2))

    // appends after compaction: delta-sized reads keep working
    val d4 = base.filter($"event_id" >= 300 && $"event_id" < 330)
    val v4 = Snapshots.commitAppend(d4, table, "post-compaction delta")
    assert(rows(Snapshots.incrementalRead(spark, table, since = v2,
      until = Some(v4))) == rows(d4))
    assert(rows(Snapshots.incrementalRead(spark, table, since = v1,
      until = Some(v4))) == rows(d2) ++ rows(d4))

    // a second compaction right after one big rewrite is a no-op commit
    // (the rewritten outputs aren't "small" in file-count terms)
    val cur = Snapshots.currentVersion(spark, table)
    val again = Snapshots.compact(spark, table,
      smallBytes = 1L) // nothing under 1 byte -> no candidates
    assert(again == cur, "no-op compaction must not commit a version")

    // compaction must not bleed pruning away: a stats-carrying table's
    // compacted outputs get FRESH zone maps on the same columns
    val t2 = Files.createTempDirectory("snap_compstats").toString + "/t"
    Snapshots.commitOverwrite(d1.repartition(16), t2, "fragmented",
      statsCols = Seq("event_id"))
    val cv = Snapshots.compact(spark, t2)
    val rewritten = Snapshots.manifestFiles(spark, t2, cv)
      .filterNot(m => Snapshots.manifestFiles(spark, t2, 1)
        .exists(_.rel == m.rel))
    assert(rewritten.nonEmpty &&
      rewritten.forall(_.stats.contains("event_id")),
      s"compacted outputs lost their zone maps: $rewritten")

    // DESCRIBE HISTORY surface: one row per version, notes and rewrite
    // flags faithful, file counts consistent with the manifests
    val hist = Snapshots.history(spark, table)
      .as[(Int, String, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(hist.map(_._1) == (1 to cur))
    assert(hist.find(_._1 == v3).get._5, "compaction row must flag rewrite")
    assert(hist.filterNot(_._1 == v3).forall(!_._5))
    assert(hist.head._2 == "fragmented load")
    hist.foreach { case (v, _, nf, nb, _) =>
      assert(nf == Snapshots.files(spark, table, v).size.toLong && nb > 0)
    }
  }

  test("snapshot retention: expire reclaims only unreferenced files, retained time travel exact, expired reads fail loudly") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_exp").toString + "/docs"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").as[Long].collect().toSet
    val d1 = base.filter($"event_id" < 100)
    val d2 = base.filter($"event_id" >= 100 && $"event_id" < 150)
    val d3 = base.filter($"event_id" >= 150 && $"event_id" < 200)
    val d4 = base.filter($"event_id" >= 900)
    val v1 = Snapshots.commitOverwrite(d1, table, "load") // files A
    val v2 = Snapshots.commitAppend(d2, table, "delta 1") // A + B
    val v3 = Snapshots.commitAppend(d3, table, "delta 2") // A + B + C
    val v4 = Snapshots.commitOverwrite(d4, table, "rebuild") // D

    // keepLast=2 retains [v3, v4] and expires v1/v2 — but every one of
    // their files is shared into v3's append chain, so reference counting
    // must delete NOTHING
    val pre3 = Snapshots.files(spark, table, v3)
    val res = Snapshots.expire(spark, table, keepLast = 2)
    assert(res.expired == Seq(v1, v2))
    assert(res.deleted.isEmpty, s"shared files deleted: ${res.deleted}")
    assert(res.keptShared > 0)
    // retained time travel is exact, file lists untouched
    assert(rows(Snapshots.readVersion(spark, table, Some(v3)))
      == rows(d1) ++ rows(d2) ++ rows(d3))
    assert(rows(Snapshots.readVersion(spark, table, Some(v4))) == rows(d4))
    assert(Snapshots.files(spark, table, v3) == pre3)
    // expired reads fail loudly, at manifest lookup
    intercept[IllegalArgumentException](
      Snapshots.readVersion(spark, table, Some(v1)))
    intercept[IllegalArgumentException](
      Snapshots.incrementalRead(spark, table, since = v1))
    // history lists exactly the retained window
    assert(Snapshots.history(spark, table)
      .as[(Int, String, Long, Long, Boolean)].collect()
      .map(_._1).sorted.toSeq == Seq(v3, v4))

    // keepLast=1 retains only the v4 overwrite: v3's whole chain is now
    // unreferenced and must be physically reclaimed
    val doomed = Snapshots.files(spark, table, v3)
    val res2 = Snapshots.expire(spark, table, keepLast = 1)
    assert(res2.expired == Seq(v3))
    assert(res2.deleted.toSet == doomed.toSet && res2.keptShared == 0)
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach(p => assert(!f.exists(new org.apache.hadoop.fs.Path(p)),
      s"expired file not reclaimed: $p"))
    assert(rows(Snapshots.readVersion(spark, table)) == rows(d4))
    // nothing left to expire: a repeat pass is a no-op
    assert(Snapshots.expire(spark, table, keepLast = 1).expired.isEmpty)
  }

  test("snapshot schema evolution: appended columns surface under mergeSchema, old rows read null, time travel sees the old shape") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_evo").toString + "/docs"
    val v1 = Snapshots.commitOverwrite(
      base.filter($"event_id" < 50).select($"event_id", $"user_id"),
      table, "narrow load")
    val v2 = Snapshots.commitAppend(
      base.filter($"event_id" >= 900)
        .select($"event_id", $"user_id", $"event_type"),
      table, "widened delta")
    // merged read: every column, appended rows carry it, prior rows null
    val merged = Snapshots.readVersion(spark, table, Some(v2), mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("event_id", "event_type", "user_id"))
    assert(merged.filter($"event_id" < 50 && $"event_type".isNull).count()
      == base.filter($"event_id" < 50).count())
    assert(merged.filter($"event_id" >= 900 && $"event_type".isNotNull).count()
      == base.filter($"event_id" >= 900).count())
    // time travel to the narrow version shows the narrow schema
    val old = Snapshots.readVersion(spark, table, Some(v1), mergeSchema = true)
    assert(old.columns.sorted.toSeq == Seq("event_id", "user_id"))
  }

  test("restore rolls the live table back metadata-only; history intact; expired targets fail loudly") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_rst").toString + "/docs"
    def ids(v: Option[Int] = None) = Snapshots.readVersion(spark, table, v)
      .select($"event_id").as[Long].collect().toSet
    val good = base.filter($"event_id" < 100)
    val bad = base.filter($"event_id" >= 990)
    val v1 = Snapshots.commitOverwrite(good, table, "good load",
      statsCols = Seq("event_id"))
    val v2 = Snapshots.commitOverwrite(bad, table, "bad load")
    val dataBefore = {
      val f = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(s"$table/data"))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    }
    val v3 = Snapshots.restore(spark, table, v1)
    assert(v3 == v2 + 1)
    // live content is the restored version; file list identical — and
    // carried stats still prune
    assert(ids() == ids(Some(v1)))
    assert(Snapshots.files(spark, table, v3) == Snapshots.files(spark, table, v1))
    assert(Snapshots.pruneFiles(spark, table, v3, "event_id",
      5000L, 6000L)._1.isEmpty)
    // metadata-only: no data file created, touched, or rewritten
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataAfter = f.listStatus(new org.apache.hadoop.fs.Path(s"$table/data"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    assert(dataAfter == dataBefore, "restore must not touch data files")
    // the bad version stays time-travelable
    assert(ids(Some(v2)) == bad.select($"event_id").as[Long].collect().toSet)
    // an expired restore target fails loudly
    Snapshots.expire(spark, table, keepLast = 1)
    intercept[IllegalArgumentException](Snapshots.restore(spark, table, v2))
  }

  test("versionAt resolves TIMESTAMP AS OF against manifest commit times") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_ts").toString + "/docs"
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(v: Int) = f.getFileStatus(new org.apache.hadoop.fs.Path(
      table, f"_versions/v$v%05d.manifest")).getModificationTime
    val v1 = Snapshots.commitOverwrite(base.filter($"event_id" < 50), table, "a")
    Thread.sleep(1100) // local-fs mtime granularity can be a full second
    val v2 = Snapshots.commitAppend(base.filter($"event_id" >= 900), table, "b")
    assert(Snapshots.versionAt(spark, table, mtime(v1) - 1) == -1,
      "before the first commit there is no version")
    assert(Snapshots.versionAt(spark, table, mtime(v1)) == v1)
    assert(Snapshots.versionAt(spark, table, mtime(v2) - 1) == v1,
      "between commits the earlier version is current")
    assert(Snapshots.versionAt(spark, table, mtime(v2) + 1000) == v2)
    // resolution composes with time travel
    val atV1 = Snapshots.readVersion(spark, table,
      Some(Snapshots.versionAt(spark, table, mtime(v1))))
    assert(atV1.count() == base.filter($"event_id" < 50).count())
  }

  test("manifest stats pruning: range reads skip non-overlapping files from the listing, results stay exact") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_stats").toString + "/docs"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").as[Long].collect().toSet
    // range-partitioned layout: each staged file covers a distinct id band
    val d1 = base.filter($"event_id" < 800)
      .repartitionByRange(8, $"event_id")
    Snapshots.commitOverwrite(d1, table, "ranged load",
      statsCols = Seq("event_id", "user_id"))
    val mfs = Snapshots.manifestFiles(spark, table, 1)
    assert(mfs.size >= 4 && mfs.forall(m =>
      m.stats.contains("event_id") && m.stats.contains("user_id")),
      s"every staged file must carry stats for BOTH columns: $mfs")
    // a narrow range must keep strictly fewer files than the total...
    val (kept, total) = Snapshots.pruneFiles(spark, table, 1, "event_id", 100L, 150L)
    assert(kept.size < total, s"no pruning happened: $kept of $total")
    // ...without losing a row (residual filter makes file-granularity exact)
    val expect = ids(base.filter($"event_id" >= 100 && $"event_id" <= 150))
    assert(ids(Snapshots.readVersionWhere(spark, table, "event_id", 100L, 150L))
      == expect)
    // the SECOND stats column prunes independently: event_id ranges tile
    // the layout but user_id is roughly uniform per file, so a full
    // user_id range keeps everything while an impossible one drops all
    val (keptU, totalU) =
      Snapshots.pruneFiles(spark, table, 1, "user_id", Long.MinValue, Long.MaxValue)
    assert(keptU.size == totalU)
    assert(Snapshots.pruneFiles(spark, table, 1, "user_id",
      Long.MaxValue - 1, Long.MaxValue)._1.isEmpty,
      "an out-of-range user_id predicate must prune every file")
    // a column with NO recorded stats never prunes
    val (keptOther, totalOther) =
      Snapshots.pruneFiles(spark, table, 1, "event_type_missing", 0L, 1L)
    assert(keptOther.size == totalOther)
    val d2 = base.filter($"event_id" >= 900).coalesce(1)
    Snapshots.commitAppend(d2, table, "statless delta") // no statsCol
    val got2 = ids(Snapshots.readVersionWhere(spark, table, "event_id", 100L, 950L))
    assert(got2 == ids(base.filter($"event_id" >= 100 && $"event_id" <= 950
      && ($"event_id" < 800 || $"event_id" >= 900))))
    // an empty admissible set still returns a well-formed empty frame
    assert(Snapshots.readVersionWhere(spark, table, "event_id",
      5000L, 6000L).count() == 0)
    // stats survive a compaction's carried (big) files only as documented:
    // rewritten outputs are statless and therefore always read
    val v3 = Snapshots.compact(spark, table, smallBytes = Long.MaxValue)
    if (v3 > 2) {
      val got3 = ids(Snapshots.readVersionWhere(spark, table, "event_id",
        100L, 150L, Some(v3)))
      assert(got3 == expect)
    }
  }

  test("orphan vacuum reclaims unreferenced data files and stale staging dirs, never live files or fresh staging") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_gc").toString + "/docs"
    val d1 = base.filter($"event_id" < 100)
    Snapshots.commitOverwrite(d1, table, "load")
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant the crash-orphan classes: an unreferenced data file and a
    // stranded staging attempt
    val orphan = new org.apache.hadoop.fs.Path(s"$table/data/v99999-orphan.parquet")
    f.create(orphan, true).close()
    val staging = new org.apache.hadoop.fs.Path(s"$table/_staging_v00042-deadbeef")
    f.mkdirs(staging)
    f.create(new org.apache.hadoop.fs.Path(staging, "part-0.parquet"), true).close()
    // a FRESH in-flight commit's residue must survive any cutoff guard
    val deleted0 = Snapshots.vacuumOrphans(spark, table, olderThanMs = 3600 * 1000)
    assert(deleted0.isEmpty, s"fresh files must be age-protected: $deleted0")
    // past the age guard, exactly the orphans go; live files stay
    val live = Snapshots.files(spark, table, 1).toSet
    val deleted = Snapshots.vacuumOrphans(spark, table, olderThanMs = -1000)
    assert(deleted.toSet ==
      Set(f.makeQualified(orphan).toString, f.makeQualified(staging).toString),
      s"unexpected vacuum set: $deleted")
    assert(!f.exists(orphan) && !f.exists(staging))
    live.foreach(p => assert(f.exists(new org.apache.hadoop.fs.Path(p)),
      s"live file vacuumed: $p"))
    assert(Snapshots.readVersion(spark, table, Some(1)).count() == d1.count())
  }

  test("deleteWhere: zone-scoped copy-on-write — carried files untouched, contained files dropped unread, straddlers rewritten") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_del").toString + "/docs"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").as[Long].collect().toSet
    // range-partitioned layout: each file covers a distinct event_id band
    val d1 = base.filter($"event_id" < 800).repartitionByRange(8, $"event_id")
    Snapshots.commitOverwrite(d1, table, "ranged load",
      statsCols = Seq("event_id"))
    val mfs1 = Snapshots.manifestFiles(spark, table, 1)
    val all = ids(Snapshots.readVersion(spark, table, Some(1)))
    // pick [lo, hi] spanning one whole file plus part of its neighbor
    val bands = mfs1.map(_.stats("event_id")).sortBy(_._1)
    val (lo, hi) = (bands(2)._1, (bands(3)._1 + bands(3)._2) / 2)
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes = mfs1.map(m =>
      m.path -> f.getFileStatus(new org.apache.hadoop.fs.Path(m.path))
        .getModificationTime).toMap
    val v2 = Snapshots.deleteWhere(spark, table, "event_id", lo, hi)
    assert(v2 == 2)
    // survivors exactly match the complement
    assert(ids(Snapshots.readVersion(spark, table, Some(v2)))
      == all.filterNot(id => id >= lo && id <= hi))
    val mfs2 = Snapshots.manifestFiles(spark, table, v2)
    val (lines2, paths2) = (mfs2.map(_.rel).toSet, mfs2.map(_.path).toSet)
    // untouched files: carried verbatim with stats, physically untouched
    val untouched = mfs1.filter(m =>
      !m.admits("event_id", lo, hi))
    assert(untouched.nonEmpty)
    untouched.foreach { m =>
      assert(lines2.contains(m.rel), s"untouched ${m.rel} not carried")
      assert(f.getFileStatus(new org.apache.hadoop.fs.Path(m.path))
        .getModificationTime == mtimes(m.path), "carried file was rewritten")
    }
    // the contained file: gone from the manifest, still on disk (time travel)
    val contained = mfs1.filter(m => m.stats("event_id")._1 >= lo
      && m.stats("event_id")._2 <= hi)
    assert(contained.nonEmpty, s"delete range [$lo,$hi] contains no file: $bands")
    contained.foreach { m =>
      assert(!paths2.contains(m.path), "contained file still referenced")
      assert(f.exists(new org.apache.hadoop.fs.Path(m.path)),
        "contained file physically deleted — breaks time travel")
    }
    // rewritten output carries fresh event_id stats, so v2 still prunes
    val rewritten = mfs2.filterNot(m => mfs1.map(_.rel).contains(m.rel))
    assert(rewritten.nonEmpty && rewritten.forall(_.stats.contains("event_id")),
      s"rewritten files lost their zone map: $rewritten")
    // the note tags the version; a delete adds nothing to the delta feed
    assert(Snapshots.noteOf(spark, table, v2)
      .startsWith(Snapshots.DeleteNotePrefix))
    assert(Snapshots.incrementalRead(spark, table, since = 1).count() == 0)
    // pre-delete time travel is bit-exact
    assert(ids(Snapshots.readVersion(spark, table, Some(1))) == all)
    // a range no file admits is a metadata no-op: nothing committed
    assert(Snapshots.deleteWhere(spark, table, "event_id",
      1000000L, 2000000L) == v2)
  }

  test("deleteWhere keeps null rows and never metadata-drops a file with nulls in the column") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_delnull").toString + "/t"
    val df = Seq[(Option[Long], String)](
      (Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"),
      (None, "n1"), (None, "n2"))
      .toDF("k", "v").coalesce(1)
    Snapshots.commitOverwrite(df, table, "load", statsCols = Seq("k"))
    // nulls present -> non-null min/max ARE recorded (range pruning never
    // selects nulls, so the prune stays exact) with the has-nulls marker
    // withholding only the whole-file metadata drop
    val mf1 = Snapshots.manifestFiles(spark, table, 1)
    assert(mf1.forall(m => m.stats.get("k").contains((1L, 3L))
      && m.hasNulls("k") && !m.nullFree("k")), s"stats: $mf1")
    // ...so a disjoint range read prunes the file from the listing
    assert(Snapshots.pruneFiles(spark, table, 1, "k", 10L, 20L)._1.isEmpty)
    assert(Snapshots.readVersionWhere(spark, table, "k", 2L, 3L)
      .count() == 2)
    // delete covering every non-null k: file must be REWRITTEN, not
    // dropped, and the null rows must survive (SQL DELETE semantics)
    val v2 = Snapshots.deleteWhere(spark, table, "k", 1L, 3L)
    val rows = Snapshots.readVersion(spark, table, Some(v2))
      .select($"v").as[String].collect().toSet
    assert(rows == Set("n1", "n2"), s"null rows lost or others kept: $rows")
  }

  test("mergeInto: keyed upsert rewrites only admitting files, inserts new keys, feeds exactly its delta, keeps time travel") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_merge").toString + "/t"
    val d1 = base.filter($"event_id" < 800).repartitionByRange(8, $"event_id")
    Snapshots.commitOverwrite(d1, table, "ranged load",
      statsCols = Seq("event_id"))
    val mfs1 = Snapshots.manifestFiles(spark, table, 1)
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes = mfs1.map(m =>
      m.path -> f.getFileStatus(new org.apache.hadoop.fs.Path(m.path))
        .getModificationTime).toMap
    // merge 1 — UPDATE-only delta, narrow key envelope [100, 120]:
    // only the band file(s) covering it may be rewritten
    val updates = base.filter($"event_id".between(100, 120))
      .withColumn("event_type", lit("merged"))
    val v2 = Snapshots.mergeInto(spark, table, updates, "event_id")
    assert(v2 == 2)
    val got = Snapshots.readVersion(spark, table, Some(v2))
    val oldIds = d1.select($"event_id").as[Long].collect().toSet
    assert(got.select($"event_id").as[Long].collect().toSet == oldIds)
    assert(got.count() == d1.count(), "upsert of existing keys must not grow rows")
    val merged = got.filter($"event_id".between(100, 120))
      .select($"event_type").distinct().as[String].collect().toSeq
    assert(merged == Seq("merged"))
    assert(got.filter($"event_type" === "merged").count() ==
      d1.filter($"event_id".between(100, 120)).count())
    // files outside the envelope: carried verbatim, physically untouched
    val untouched = mfs1.filter(!_.admits("event_id", 100L, 120L))
    assert(untouched.nonEmpty, s"fixture: no file escapes [100,120]: $mfs1")
    val mfs2 = Snapshots.manifestFiles(spark, table, v2)
    untouched.foreach { m =>
      assert(mfs2.exists(_.rel == m.rel), s"untouched ${m.rel} dropped")
      assert(f.getFileStatus(new org.apache.hadoop.fs.Path(m.path))
        .getModificationTime == mtimes(m.path), "carried file rewritten")
    }
    // new files carry fresh key stats, so the NEXT merge/delete prunes too
    val fresh = mfs2.filterNot(m => mfs1.exists(_.rel == m.rel))
    assert(fresh.nonEmpty && fresh.forall(_.stats.contains("event_id")))
    // merge 2 — INSERT-only delta with keys beyond every file's range:
    // nothing admits, nothing is rewritten, the delta lands as new files
    val inserts = base.filter($"event_id" < 5)
      .withColumn("event_id", $"event_id" + 5000L)
    val v3 = Snapshots.mergeInto(spark, table, inserts, "event_id")
    val mfs3 = Snapshots.manifestFiles(spark, table, v3)
    mfs2.foreach(m => assert(mfs3.exists(_.rel == m.rel),
      s"disjoint-insert merge rewrote ${m.rel}"))
    assert(Snapshots.readVersion(spark, table, Some(v3))
      .select($"event_id").as[Long].collect().toSet ==
      oldIds ++ (5000L until 5005L))
    // merge versions feed exactly their DELTA (upsert row images) —
    // inserted keys and new images of updated keys — never the
    // copy-on-write survivors (which would replay old rows)
    assert(Snapshots.noteOf(spark, table, v2)
      .startsWith(Snapshots.MergeNotePrefix))
    val feed1 = Snapshots.incrementalRead(spark, table, since = 1,
      until = Some(v2))
    assert(feed1.count() == updates.count(), "merge delta missing from feed")
    assert(feed1.select($"event_type").distinct()
      .as[String].collect().toSeq == Seq("merged"))
    val feed2 = Snapshots.incrementalRead(spark, table, since = v2)
    assert(feed2.select($"event_id").as[Long].collect().toSet ==
      (5000L until 5005L).toSet, "merge INSERTS lost from the feed")
    assert(Snapshots.readVersion(spark, table, Some(1)).count() == d1.count())
  }

  test("row-level commit race: deleteWhere vs disjoint-zone mergeInto — both succeed, serialized versions, row-exact result") {
    import graft.sources.Snapshots
    import java.util.concurrent.{CountDownLatch, Executors}
    val table = Files.createTempDirectory("snap_rowrace").toString + "/t"
    val d1 = base.filter($"event_id" < 800).repartitionByRange(8, $"event_id")
    Snapshots.commitOverwrite(d1, table, "ranged load",
      statsCols = Seq("event_id"))
    // racer A deletes a LOW key band, racer B merges a HIGH-key delta:
    // with 8 range-partitioned band files their zone-map touch sets are
    // disjoint, so the claim loser must REBASE and succeed, not throw
    val updates = base.filter($"event_id".between(700, 720))
      .withColumn("event_type", lit("merged"))
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val fa = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = { gate.await()
        Snapshots.deleteWhere(spark, table, "event_id", 0L, 50L) }
    })
    val fb = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = { gate.await()
        Snapshots.mergeInto(spark, table, updates, "event_id") }
    })
    gate.countDown()
    val (va, vb) = (fa.get(), fb.get())
    pool.shutdown()
    assert(Set(va, vb) == Set(2, 3), s"serialized versions, got ($va, $vb)")
    // final state = both operations applied exactly once, either order
    val got = Snapshots.readVersion(spark, table)
    val expectIds = d1.filter($"event_id" > 50)
      .select($"event_id").as[Long].collect().toSet
    assert(got.select($"event_id").as[Long].collect().toSet == expectIds)
    assert(got.filter($"event_type" === "merged").count() ==
      d1.filter($"event_id".between(700, 720)).count(),
      "merge lost in the race")
    assert(got.filter($"event_id" <= 50).count() == 0, "delete lost in the race")
    // OVERLAPPING row-level commits must never both apply: race two
    // deletes of one range — outcomes per racer are success, a loud
    // stale-conflict error, or a metadata no-op; the range dies once
    val gate2 = new CountDownLatch(1)
    val pool2 = Executors.newFixedThreadPool(2)
    val rs = (0 until 2).map { _ =>
      pool2.submit(new java.util.concurrent.Callable[Either[String, Int]] {
        def call(): Either[String, Int] = { gate2.await()
          try Right(Snapshots.deleteWhere(spark, table, "event_id", 100L, 160L))
          catch { case e: IllegalArgumentException => Left(e.getMessage) }
        }
      })
    }
    gate2.countDown()
    val outs = rs.map(_.get())
    pool2.shutdown()
    assert(outs.exists(_.isRight), s"no delete landed: $outs")
    outs.collect { case Left(m) =>
      assert(m.contains("stale"), s"unexpected failure: $m") }
    val after = Snapshots.readVersion(spark, table)
    assert(after.filter($"event_id".between(100, 160)).count() == 0)
    assert(after.count() ==
      got.count() - got.filter($"event_id".between(100, 160)).count(),
      "overlapping race double-applied or lost rows")
  }

  test("compaction racing a disjoint append: BOTH land on serialized versions, rows exactly once, feed stays delta-only") {
    import graft.sources.Snapshots
    import java.util.concurrent.{CountDownLatch, Executors}
    val table = Files.createTempDirectory("snap_comprace").toString + "/t"
    val d1 = base.filter($"event_id" < 200).repartition(16) // fragmented
    Snapshots.commitOverwrite(d1, table, "fragmented base")
    val d2 = base.filter($"event_id" >= 200 && $"event_id" < 260)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val fc = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = { gate.await(); Snapshots.compact(spark, table) }
    })
    val fa = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = { gate.await()
        Snapshots.commitAppend(d2, table, "racing delta") }
    })
    gate.countDown()
    val (vc, va) = (fc.get(), fa.get())
    pool.shutdown()
    // the append's file is DISJOINT from the compacted inputs, so a lost
    // claim on either side rebases: both commits land, serialized
    assert(Set(vc, va) == Set(2, 3), s"compact=$vc append=$va")
    assert(Snapshots.noteOf(spark, table, vc)
      .startsWith(Snapshots.RewriteNotePrefix))
    // final state carries base + delta rows EXACTLY once (a bad rebase
    // would duplicate compacted rows or drop the delta)
    val want = (d1.select($"event_id").as[Long].collect()
      ++ d2.select($"event_id").as[Long].collect()).sorted.toSeq
    val got = Snapshots.readVersion(spark, table)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(got == want, s"rows diverged: got ${got.size}, want ${want.size}")
    // the rewrite version is row-neutral to the incremental feed: since
    // the base, consumers replay only the racing delta
    assert(Snapshots.incrementalRead(spark, table, since = 1)
      .select($"event_id").as[Long].collect().sorted.toSeq
      == d2.select($"event_id").as[Long].collect().sorted.toSeq)
  }

  /** Rewrite a snapshot file in place with `text`, as a writer's bytes
    * land: plain file IO, with the Hadoop checksum sibling removed so the
    * local filesystem reads the new bytes unverified.
    */
  private def rewriteRaw(file: String, text: String,
      opts: java.nio.file.OpenOption*): Unit = {
    val p = java.nio.file.Paths.get(file)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    Files.write(p, text.getBytes("UTF-8"), opts: _*)
  }

  private def readLines(file: String): Vector[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(java.nio.file.Paths.get(file)).asScala.toVector
  }

  test("a manifest without its terminator is refused at any age") {
    import graft.sources.Snapshots
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def twoVersions(name: String): String = {
      val table = Files.createTempDirectory(name).toString + "/t"
      Snapshots.commitOverwrite(Seq(1L, 2L).toDF("id"), table, "v1")
      Snapshots.commitAppend(Seq(3L).toDF("id"), table, "v2")
      table
    }
    def stripTerminator(file: String): Unit = {
      val lines = readLines(file)
      assert(lines.last == "#end")
      rewriteRaw(file, lines.dropRight(1).mkString("", "\n", "\n"))
    }
    // each case is re-read for the full torn-read bound before it is
    // refused, so the four run side by side
    def refused(file: String)(read: => Any): Future[Unit] = Future {
      val e = intercept[IllegalArgumentException](read)
      assert(e.getMessage.contains(file) && e.getMessage.contains("delete"),
        s"no file or repair in: ${e.getMessage}")
    }
    val aged = twoVersions("snap_torn_aged")
    val agedManifest = s"$aged/_versions/v00002.manifest"
    stripTerminator(agedManifest)
    new java.io.File(agedManifest).setLastModified(System.currentTimeMillis() - 60000L)
    val fresh = twoVersions("snap_torn_fresh")
    val freshManifest = s"$fresh/_versions/v00002.manifest"
    stripTerminator(freshManifest)
    val empty = twoVersions("snap_torn_empty")
    val emptyManifest = s"$empty/_versions/v00003.manifest"
    rewriteRaw(emptyManifest, "")
    val tagged = twoVersions("snap_torn_ref")
    Snapshots.tag(spark, tagged, "run-a", 1)
    val ref = s"$tagged/_refs/run-a.ref"
    stripTerminator(ref)
    Await.result(Future.sequence(Seq(
      refused(agedManifest)(Snapshots.readVersion(spark, aged)),
      refused(freshManifest)(Snapshots.readVersion(spark, fresh)),
      refused(emptyManifest)(Snapshots.readVersion(spark, empty)),
      refused(ref)(Snapshots.resolveTag(spark, tagged, "run-a")))), 2.minutes)
  }

  test("a manifest whose writer is still in flight is read once its terminator lands") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_inflight").toString + "/t"
    Snapshots.commitOverwrite(Seq(1L, 2L).toDF("id"), table, "v1")
    Snapshots.commitAppend(Seq(3L).toDF("id"), table, "v2")
    val manifest = s"$table/_versions/v00002.manifest"
    val lines = readLines(manifest)
    assert(lines.last == "#end") // note, v1's files, v2's file, #end
    // v2's own file line has not landed: read as is, v2 would lose row 3
    rewriteRaw(manifest, lines.dropRight(2).mkString("", "\n", "\n"))
    val writer = new Thread(() => {
      Thread.sleep(200)
      rewriteRaw(manifest, lines.takeRight(2).mkString("", "\n", "\n"),
        java.nio.file.StandardOpenOption.APPEND)
    })
    writer.start()
    try assert(Snapshots.readVersion(spark, table)
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    finally writer.join()
  }

  test("epoch-stamped commits: replayed epochs no-op for append and merge; history stays time-travelable") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_epoch").toString + "/t"
    val v1 = Snapshots.commitAppendEpoch(Seq(1L, 2L).toDF("id"), table, 0L)
    val v2 = Snapshots.commitAppendEpoch(Seq(3L).toDF("id"), table, 1L)
    assert((v1, v2) == (1, 2) && Snapshots.lastEpoch(spark, table).contains(1L))
    // crash between sink commit and checkpoint advance = same epoch again
    assert(Snapshots.commitAppendEpoch(Seq(3L).toDF("id"), table, 1L) == v2)
    assert(Snapshots.currentVersion(spark, table) == v2, "replay committed")
    assert(Snapshots.readVersion(spark, table)
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    // epoch-stamped merge: applied once, replay no-ops
    val up = Seq((2L, "u")).toDF("id", "tag")
    val base2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
    val t2 = Files.createTempDirectory("snap_epochm").toString + "/t"
    Snapshots.commitAppendEpoch(base2, t2, 0L, statsCols = Seq("id"))
    val mv = Snapshots.mergeInto(spark, t2, up, "id", epoch = Some(1L))
    assert(mv == 2 && Snapshots.lastEpoch(spark, t2).contains(1L))
    assert(Snapshots.mergeInto(spark, t2, up, "id", epoch = Some(1L)) == mv,
      "replayed merge epoch must no-op")
    assert(Snapshots.readVersion(spark, t2).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "u"), (3L, "c")))
    // epoch versions time travel like any other
    assert(Snapshots.readVersion(spark, t2, Some(1))
      .as[(Long, String)].collect().toSet == base2.as[(Long, String)].collect().toSet)
  }

  test("named refs: tags pin versions through expire, immutable until dropped") {
    import graft.sources.Snapshots
    val table = Files.createTempDirectory("snap_tag").toString + "/docs"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").as[Long].collect().toSet
    val d1 = base.filter($"event_id" < 100)
    val d2 = base.filter($"event_id" >= 100 && $"event_id" < 150)
    val d3 = base.filter($"event_id" >= 900)
    val v1 = Snapshots.commitOverwrite(d1, table, "load")
    Snapshots.tag(spark, table, "run-a", v1)
    val v2 = Snapshots.commitOverwrite(d2, table, "rebuild 1")
    val v3 = Snapshots.commitOverwrite(d3, table, "rebuild 2")

    // resolution, listing, read-by-tag
    assert(Snapshots.resolveTag(spark, table, "run-a") == v1)
    assert(Snapshots.tags(spark, table) == Seq("run-a" -> v1))
    assert(rows(Snapshots.readTag(spark, table, "run-a")) == rows(d1))
    // immutability + validation fail loudly
    intercept[Exception](Snapshots.tag(spark, table, "run-a", v2))
    intercept[Exception](Snapshots.tag(spark, table, "bad/name", v2))
    intercept[Exception](Snapshots.tag(spark, table, "ghost", 99))
    intercept[Exception](Snapshots.resolveTag(spark, table, "nope"))

    // keepLast=1 would expire v1 and v2; the tag pins v1 (manifest AND
    // files), v2 goes, and the pinned bytes survive a zero-age vacuum
    val res = Snapshots.expire(spark, table, keepLast = 1)
    assert(res.expired == Seq(v2))
    Snapshots.vacuumOrphans(spark, table, olderThanMs = 0L)
    assert(rows(Snapshots.readTag(spark, table, "run-a")) == rows(d1))
    intercept[Exception](Snapshots.readVersion(spark, table, Some(v2)))

    // dropping the tag releases the pin: the next expire reclaims v1
    Snapshots.dropTag(spark, table, "run-a")
    intercept[Exception](Snapshots.dropTag(spark, table, "run-a"))
    val res2 = Snapshots.expire(spark, table, keepLast = 1)
    assert(res2.expired == Seq(v1))
    intercept[Exception](Snapshots.readTag(spark, table, "run-a"))
    assert(rows(Snapshots.readVersion(spark, table)) == rows(d3))
    assert(Snapshots.tags(spark, table).isEmpty)
  }
}
