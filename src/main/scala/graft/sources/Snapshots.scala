package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based snapshot versioning — reproducible dataset versions with
  * time travel and incremental reads, the Iceberg/Delta discipline reduced
  * to its load-bearing core. A training run that cannot name the EXACT
  * bytes it trained on cannot be reproduced or audited; at 100 TB the only
  * affordable mechanism is the standard one: immutable data files + a
  * tiny per-version manifest listing which files ARE the table at that
  * version.
  *
  *   <table>/data/v00003-part-....parquet   immutable, never rewritten
  *   <table>/_versions/v00003.manifest      note line + one file path/line
  *
  * Commit = write new files, then write the manifest LAST: the manifest is
  * the commit point, so a crash mid-commit leaves orphan data files but
  * never a corrupt or partially-visible version (readers only follow
  * manifests). Appends REUSE the parent's file list — no data rewrite, the
  * manifest grows by the delta's file count only. Old versions stay
  * readable until an explicit retention vacuum ([[expire]]) reclaims
  * them. Concurrency: version numbers are claimed by listing + a
  * create-EXCLUSIVE manifest write; a committer that loses the claim race
  * rebases and retries — appends and overwrites always (optimistic
  * concurrency, the Iceberg/Delta shape: staged files are
  * version-independent, only the manifest is recomputed against the new
  * parent; an overwrite is parent-independent and serializes
  * last-writer-wins), row-level commits and compactions when the winner
  * left every file they read untouched (disjoint commits commute) — and
  * fails loudly only on a true conflict: a winner that rewrote or
  * dropped a file this commit had read.
  *
  * `incrementalRead` is the consumer half: "give me only what v added
  * since w" — the delta feed that drives uber/Incremental-style
  * maintenance and NearDupStream-style dedup without rescanning the
  * corpus.
  */
object Snapshots {

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration
  private def fs(spark: SparkSession, p: Path): FileSystem = p.getFileSystem(conf(spark))

  private def vdir(table: String) = new Path(table, "_versions")
  private def manifestPath(table: String, v: Int) =
    new Path(vdir(table), f"v$v%05d.manifest")

  /** The versions that have a manifest (expired ones are gone), ascending. */
  private def versions(spark: SparkSession, table: String): Seq[Int] = {
    val d = vdir(table)
    val f = fs(spark, d)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toInt).sorted
  }

  /** Latest committed version, 0 if the table has none. */
  def currentVersion(spark: SparkSession, table: String): Int =
    versions(spark, table).lastOption.getOrElse(0)

  /** One manifest file entry: table-relative path, absolute path, and the
    * per-file column statistics carried on its manifest line — zero or
    * more `TAB col TAB lo TAB hi` triples after the path (long-typed
    * columns' min/max over the NON-NULL rows), one per stats column. A
    * column token ending in `?` marks the file as containing NULLs in
    * that column: range pruning still applies (a range predicate never
    * selects nulls), but whole-file metadata operations that need
    * "min/max inside the range ⇒ EVERY row matches" must not fire.
    * A line whose first token is `+` marks a file staged as a MERGE
    * DELTA (fresh upsert rows, not copy-on-write survivors) — the
    * incremental feed emits these and skips the survivors.
    */
  final case class ManifestFile(rel: String, path: String,
      stats: Map[String, (Long, Long)],
      hasNulls: Set[String] = Set.empty,
      isMergeDelta: Boolean = false) {
    /** Can this file contain a row with `column` in [lo, hi]? Files
      * without stats on the column must be read.
      */
    def admits(column: String, lo: Long, hi: Long): Boolean =
      stats.get(column) match {
        case Some((flo, fhi)) => fhi >= lo && flo <= hi
        case None => true
      }
    /** Stats recorded AND the column proven null-free in this file —
      * the precondition for metadata-only whole-file drops.
      */
    def nullFree(column: String): Boolean =
      stats.contains(column) && !hasNulls(column)
  }

  /** All lines of a complete manifest (note line first): a claimed
    * [[DurableRecord]]. Deleting a torn one drops its version; its staged
    * data files are [[vacuumOrphans]]' documented class.
    */
  private def manifestLines(spark: SparkSession, table: String,
      version: Int): Seq[String] = {
    val mp = manifestPath(table, version)
    val lines = DurableRecord.read(conf(spark), mp,
      s"delete $mp (a torn manifest drops its version)", claimed = true)
    require(lines.isDefined, s"no version $version at $table")
    lines.get
  }

  /** The raw manifest lines of a version (after the note line). */
  private def fileLines(spark: SparkSession, table: String,
      version: Int): Seq[String] =
    manifestLines(spark, table, version).drop(1)

  /** Marker token opening the manifest line of a merge-delta file. */
  private val DeltaLineMark = "+"

  /** Parsed manifest entries of a version, stats included when present. */
  def manifestFiles(spark: SparkSession, table: String,
      version: Int): Seq[ManifestFile] =
    fileLines(spark, table, version).map { line =>
      val raw = line.split("\t", -1)
      val isDelta = raw.headOption.contains(DeltaLineMark)
      val parts = if (isDelta) raw.drop(1) else raw
      val (stats, nulls) =
        if (parts.length < 4 || (parts.length - 1) % 3 != 0)
          (Map.empty[String, (Long, Long)], Set.empty[String])
        else {
          val triples = parts.drop(1).grouped(3).map {
            case Array(c, lo, hi) => (c, lo.toLong, hi.toLong)
          }.toSeq
          (triples.map { case (c, lo, hi) =>
            c.stripSuffix("?") -> ((lo, hi)) }.toMap,
            triples.collect { case (c, _, _) if c.endsWith("?") =>
              c.stripSuffix("?") }.toSet)
        }
      ManifestFile(parts(0), new Path(table, parts(0)).toString,
        stats, nulls, isDelta)
    }

  /** The table-relative path a raw manifest line names. */
  private def relOf(line: String): String = {
    val parts = line.split("\t", -1)
    if (parts.headOption.contains(DeltaLineMark)) parts(1) else parts(0)
  }

  /** The data-file list (absolute paths) of a version. */
  def files(spark: SparkSession, table: String, version: Int): Seq[String] =
    manifestFiles(spark, table, version).map(_.path)

  /** Write `df`'s files under data/ with a version-unique prefix and
    * return their table-relative paths (manifest not yet written).
    *
    * The staging directory carries a per-ATTEMPT unique suffix: two
    * committers racing for the same version must not share a staging
    * path, or one's overwrite clobbers the other's files mid-rename and
    * BOTH can fail — the claim point is the manifest create, and staging
    * must stay private until then (FormatsSpec's race test exposed this).
    */
  private def stage(df: DataFrame, table: String, v: Int): Seq[String] = {
    val spark = df.sparkSession
    val staging = new Path(table,
      f"_staging_v$v%05d-${java.util.UUID.randomUUID().toString.take(8)}")
    val f = fs(spark, staging)
    df.write.mode("overwrite").parquet(staging.toString)
    val dataDir = new Path(table, "data")
    f.mkdirs(dataDir)
    val parts = f.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val rels = parts.map { p =>
      val rel = f"data/v$v%05d-${p.getName}"
      // Hadoop rename reports failure by RETURN VALUE, not exception; an
      // unchecked false here would commit a manifest entry for a file
      // that never arrived, breaking the never-a-corrupt-version invariant
      require(f.rename(p, new Path(table, rel)),
        s"snapshot stage: rename ${p.getName} -> $rel failed")
      rel
    }
    f.delete(staging, true)
    rels.toSeq
  }

  private def writeManifest(
      spark: SparkSession, table: String, v: Int,
      note: String, rels: Seq[String]): Int = {
    // the manifest is line-oriented (note line + one path per line): a
    // newline inside the note would shift every file path by one line
    DurableRecord.claim(conf(spark), manifestPath(table, v),
      note.replaceAll("[\\r\\n]+", " ") +: rels)
    v
  }

  /** Decorate staged rels with per-file min/max of a long-typed column —
    * the manifest-level zone map. ONE job over all staged files (grouped
    * by input_file_name), not a job per file. Files the stats pass can't
    * cover (zero rows, all-null column) keep a plain line and are simply
    * never pruned — absence of stats degrades to reading the file, the
    * only correct default.
    *
    * A file with SOME nulls in a stats column keeps its non-null min/max
    * (range pruning never selects nulls, so the prune stays exact) but
    * its column token carries the `?` has-nulls marker: [[deleteWhere]]'s
    * whole-file metadata drop needs "min/max inside the range" to mean
    * EVERY row matches, and a null row would be deleted without matching
    * — marked files are rewritten instead of dropped.
    */
  private def relLines(spark: SparkSession, table: String,
      rels: Seq[String], statsCols: Seq[String]): Seq[String] =
    if (statsCols.isEmpty) rels
    else {
      require(statsCols.forall(!_.contains("?")),
        s"stats column names may not contain '?' (the has-nulls marker): $statsCols")
      import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
      val paths = rels.map(r => new Path(table, r).toString)
      val aggs = statsCols.flatMap(c => Seq(
        min(col(c)).cast("long").as(s"lo_$c"),
        max(col(c)).cast("long").as(s"hi_$c"),
        (count(lit(1)) - count(col(c))).as(s"nulls_$c")))
      val byName = spark.read.parquet(paths: _*)
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        // driver-bound(manifest-bounded): one row per data file of one table version (zone-map build)
        .collect().map { r =>
          val triples = statsCols.zipWithIndex.flatMap { case (c, i) =>
            val (loI, hiI, nullI) = (1 + 3 * i, 2 + 3 * i, 3 + 3 * i)
            if (r.isNullAt(loI) || r.isNullAt(hiI)) None
            else {
              val mark = if (r.getLong(nullI) > 0) "?" else ""
              Some(s"$c$mark\t${r.getLong(loI)}\t${r.getLong(hiI)}")
            }
          }
          new Path(r.getString(0)).getName -> triples
        }.toMap
      rels.map { rel =>
        (rel +: byName.getOrElse(new Path(rel).getName, Seq.empty))
          .mkString("\t")
      }
    }

  /** Commit `df` as a FULL new table state (prior files stay for time
    * travel but leave the live version). Returns the new version number.
    * With `statsCols`, every staged file's manifest line carries those
    * columns' min/max so [[readVersionWhere]] can prune files from the
    * LISTING, before any footer is opened — at 100 TB the difference
    * between a metadata operation and a million footer reads. Multiple
    * columns cost one extra pair of aggregates each in the SAME stats
    * job (the production shape: a time column for retention scans plus
    * an id column for point lookups).
    */
  def commitOverwrite(df: DataFrame, table: String,
      note: String = "overwrite", statsCols: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val lines = relLines(spark, table,
      stage(df, table, currentVersion(spark, table) + 1), statsCols)
    // An overwrite's content is parent-INDEPENDENT (full replacement), so
    // a lost version claim rebases trivially: re-claim the next number
    // with the same staged lines. Semantics are last-writer-wins by
    // construction — the racing commit's state stays time-travelable at
    // its own serialized version, the overwrite lands after it.
    claimNext(spark, table, "overwrite")(_ => Some((note, lines)))
  }

  /** Claim the version after the current one with the (note, lines)
    * manifest `build` makes against that parent; `None` from `build` ends
    * without a commit (a replayed epoch), returning the current version.
    * A lost claim race — an IOException with the version now existing;
    * object stores surface a real filesystem error the same way, hence
    * the re-check — re-lists and rebuilds. Ten lost races in a row fail
    * loudly with nothing published (staged files are orphans;
    * [[vacuumOrphans]] reclaims them).
    */
  private def claimNext(spark: SparkSession, table: String, what: String)(
      build: Int => Option[(String, Seq[String])]): Int = {
    var lost = 0
    while (lost < 10) {
      val parent = currentVersion(spark, table)
      val mp = manifestPath(table, parent + 1)
      build(parent) match {
        case None => return currentVersion(spark, table)
        case Some((note, lines)) =>
          try return writeManifest(spark, table, parent + 1, note, lines)
          catch { case _: java.io.IOException if fs(spark, mp).exists(mp) => lost += 1 }
      }
    }
    throw new IllegalArgumentException(s"snapshot $what on $table: lost the " +
      s"version claim $lost times in a row — giving up with nothing published " +
      "(staged files are orphans; vacuumOrphans reclaims them)")
  }

  /** Commit `df` as an APPEND: the new version = parent's files + the
    * delta's files; nothing is rewritten (prior manifest LINES are
    * carried verbatim, stats included). Returns the new version.
    *
    * Optimistic concurrency (round-11 verdict item 4): the delta's files
    * are staged ONCE — they are version-independent immutable data, their
    * `vNNNNN-` name prefix merely records the attempt that wrote them
    * (Spark part-file UUIDs keep racing stagings collision-free). If the
    * create-exclusive manifest claim is lost, the committer re-lists the
    * table, REBASES its file list onto the new parent (append-on-anything
    * is well-defined: the delta's rows join whatever state won), and
    * re-claims the next version. Bounded retries; exhaustion fails loudly
    * with nothing published — staged files without a manifest are exactly
    * the orphan class [[vacuumOrphans]] reclaims.
    */
  def commitAppend(df: DataFrame, table: String,
      note: String = "append", statsCols: Seq[String] = Nil): Int =
    commitAppendLoop(df, table, note, statsCols, None)

  /** [[commitAppend]]'s claim-retry loop, with the exactly-once epoch
    * guard INSIDE the loop: two committers replaying the same epoch
    * concurrently (zombie driver + restarted driver — the crash scenario
    * epoch stamping exists to survive) can both pass an entry-time
    * `lastEpoch` check; check-then-act is not enough. Re-checking after
    * reading the parent, immediately before each claim, closes the race
    * airtight because the claim is create-EXCLUSIVE: any epoch-stamped
    * commit that lands after this committer's check must have claimed
    * parent+1 first, so this committer's claim FAILS and the next
    * iteration's re-check sees the applied epoch and no-ops (its staged
    * files are [[vacuumOrphans]]' orphan class).
    */
  private def commitAppendLoop(df: DataFrame, table: String, note: String,
      statsCols: Seq[String], epoch: Option[Long]): Int = {
    val spark = df.sparkSession
    val lines = relLines(spark, table,
      stage(df, table, currentVersion(spark, table) + 1), statsCols)
    claimNext(spark, table, "append") { parent =>
      if (epoch.exists(e => lastEpoch(spark, table).exists(_ >= e))) None
      else Some((note,
        (if (parent == 0) Seq.empty else fileLines(spark, table, parent)) ++ lines))
    }
  }

  /** Reserved note token stamping the commit with a streaming epoch:
    * `epoch=<id>` anywhere in the note line. A foreachBatch sink that
    * stamps each commit with its batch id gets EXACTLY-ONCE table
    * updates from at-least-once batch delivery: a crash between the
    * sink's commit and the checkpoint advance re-delivers the batch,
    * and the stamped manifest makes re-applying it a no-op. Requires
    * monotone epochs (Structured Streaming batch ids are); free-text
    * notes must not contain the token.
    */
  val EpochTag = "epoch="

  private def epochOf(note: String): Option[Long] =
    note.split(' ').find(_.startsWith(EpochTag))
      .map(_.stripPrefix(EpochTag).toLong)

  /** The highest epoch recorded in any retained version's note, None if
    * no epoch-stamped version exists. Epochs rise with versions (monotone
    * by contract), so the DESCENDING scan stops at the first stamped
    * note — O(1) manifest reads at streaming cadence; O(versions) only
    * for a table never written by an epoch sink.
    */
  def lastEpoch(spark: SparkSession, table: String): Option[Long] =
    versions(spark, table).reverseIterator
      .map(v => epochOf(noteOf(spark, table, v)))
      .collectFirst { case Some(e) => e }

  /** [[commitAppend]] stamped with a streaming epoch: a replayed epoch
    * (id at or below the last stamped one) is a NO-OP returning the
    * current version — nothing staged, nothing committed.
    */
  def commitAppendEpoch(df: DataFrame, table: String, epoch: Long,
      note: String = "append", statsCols: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    // entry check saves the staging cost on the common replay; the loop
    // in commitAppendLoop re-checks per claim attempt for the concurrent
    // zombie-replay race (see its doc)
    if (lastEpoch(spark, table).exists(_ >= epoch)) currentVersion(spark, table)
    else commitAppendLoop(df, table, s"$EpochTag$epoch $note", statsCols,
      Some(epoch))
  }

  /** Marker prefix that tags a version as a REWRITE (same logical rows,
    * different physical files). Incremental readers must skip these
    * versions' file additions or every compaction would replay the whole
    * table as a spurious delta.
    */
  val RewriteNotePrefix = "compact:"

  /** The note line a version was committed with. */
  def noteOf(spark: SparkSession, table: String, version: Int): String =
    manifestLines(spark, table, version).head

  /** Compact the current version's SMALL files into target-sized ones as
    * a new version with IDENTICAL logical content — the maintenance pass
    * every append-discipline table needs at 100 TB, where daily deltas
    * accumulate thousands of KB-sized files and scan cost becomes
    * file-count-bound. Files >= `smallBytes` are carried over UNTOUCHED
    * (never rewrite the big ones); the small ones are read once and
    * rewritten into ceil(bytes / targetBytes) outputs.
    *
    * The new manifest's note carries [[RewriteNotePrefix]], so
    * `incrementalRead` treats the version as row-neutral; prior versions
    * stay readable (the rewritten files remain on disk for time travel —
    * reclaiming them is retention's job, not compaction's). Returns the
    * new version, or the CURRENT one when fewer than two files qualify
    * (a no-op compaction commits nothing).
    */
  def compact(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallBytes: Long = 32L * 1024 * 1024): Int = {
    val parent = currentVersion(spark, table)
    require(parent > 0, s"nothing to compact at $table")
    val f = fs(spark, new Path(table))
    val withLen = manifestFiles(spark, table, parent)
      .zip(fileLines(spark, table, parent))
      .map { case (mf, line) => (mf, line, f.getFileStatus(new Path(mf.path)).getLen) }
    val (small, big) = withLen.partition(_._3 < smallBytes)
    if (small.size < 2) return parent
    val nOut = math.max(1,
      math.ceil(small.map(_._3).sum.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(small.map(_._1.path): _*).coalesce(nOut)
    val v = parent + 1
    // rewritten outputs carry FRESH stats on every column any compacted
    // input carried stats for — a table compacted daily at 100 TB must
    // not bleed its pruning away one maintenance pass at a time; carried
    // big files keep their manifest lines (and stats) verbatim.
    val statsCols = small.flatMap(_._1.stats.keys).distinct
    val rels = relLines(spark, table, stage(df, table, v), statsCols)
    // Commit through the row-level disjoint-rebase path: compaction's
    // touched set is exactly the small files it read, so losing the claim
    // race to a DISJOINT commit (an append; a delete/merge over only big
    // files) rebases — the winner's untouched lines are carried, both
    // land on serialized versions. A winner that rewrote or dropped a
    // compacted input (overlapping compaction/delete/merge) still fails
    // loudly: the staged rewrite is stale.
    commitRowLevel(spark, table, parent,
      small.map(e => relOf(e._2)).toSet,
      _ => s"$RewriteNotePrefix ${small.size} -> ${rels.size} files",
      rels)
  }

  /** Marker prefix tagging a version as a row-level DELETE (copy-on-write
    * rewrite of the touched files; surviving rows re-appear in new files).
    * Incremental readers must skip these versions' file additions — a
    * delete adds no rows.
    */
  val DeleteNotePrefix = "delete:"

  /** Commit a row-level (delete/merge) result with DISJOINT-rebase retry
    * — the row-level half of [[commitAppend]]'s optimistic concurrency.
    * The staged output (`newLines`) was computed by reading exactly
    * `touchedRels` of the parent this committer saw; those files are
    * immutable, so the staged result stays valid under ANY concurrent
    * commit that left every touched file in the live list. On a lost
    * claim the committer re-lists: if the winner's state still carries
    * all touched files, the two commits changed disjoint file sets and
    * commute — the rebased manifest (winner's lines minus touched, plus
    * the staged lines) is exactly the loser-first serialization, so both
    * succeed with serialized versions. A winner that rewrote or dropped
    * a touched file (compaction, an overlapping delete/merge, restore)
    * invalidated the staged rows — that conflict still fails loudly with
    * nothing published (the staged files are [[vacuumOrphans]]' class).
    */
  private def commitRowLevel(spark: SparkSession, table: String,
      firstParent: Int, touchedRels: Set[String],
      note: Int => String, newLines: Seq[String],
      epoch: Option[Long] = None): Int =
    claimNext(spark, table, "row-level commit") { parent =>
      // exactly-once guard INSIDE the loop — a concurrent committer
      // replaying the same epoch may have applied it after this
      // committer's entry check; see commitAppendLoop's doc for why
      // claim-exclusivity makes the per-attempt re-check airtight
      if (epoch.exists(e => lastEpoch(spark, table).exists(_ >= e))) None
      else {
        val parentLines =
          if (parent == 0) Seq.empty else fileLines(spark, table, parent)
        if (parent != firstParent) {
          val present = parentLines.map(relOf).toSet
          val missing = touchedRels.filterNot(present)
          require(missing.isEmpty,
            s"row-level commit on $table: concurrent v$parent rewrote or " +
              s"dropped ${missing.size} file(s) this commit had read " +
              s"(${missing.take(3).mkString(", ")}) — the staged result is " +
              "stale; nothing published, re-run against the new state")
        }
        val carried = parentLines.filterNot(l => touchedRels(relOf(l)))
        Some((note(carried.size), carried ++ newLines))
      }
    }

  /** Row-level DELETE of `column` in [lo, hi] — the takedown/expiry verb
    * a training-data store cannot ship without (a removal request against
    * 100 TB must not rewrite 100 TB). Copy-on-write at file granularity,
    * scoped by the manifest zone maps:
    *
    *   - files whose stats CANNOT admit the range are carried verbatim —
    *     manifest line, stats and physical file untouched;
    *   - files whose stats lie entirely INSIDE [lo, hi] are dropped from
    *     the manifest without being read (stats imply the column is
    *     null-free in the file — see [[relLines]] — so every row matches);
    *   - only the remaining files (range-straddling or stat-less) are
    *     read and rewritten with the surviving rows; null values never
    *     match a range predicate, so null rows are KEPT (SQL DELETE
    *     semantics). Rewritten files get fresh stats on every column the
    *     inputs carried stats for, so later range reads and deletes keep
    *     their pruning.
    *
    * Returns the new version, or the current one when no file admits the
    * range (metadata-only no-op, nothing committed). Prior versions stay
    * time-travelable; reclaiming the replaced files is retention's job.
    * A lost version-claim race rebases when the winner changed only
    * DISJOINT files and fails loudly otherwise — see [[commitRowLevel]].
    */
  def deleteWhere(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): Int = {
    import org.apache.spark.sql.functions.col
    val parent = currentVersion(spark, table)
    require(parent > 0, s"nothing to delete from at $table")
    val entries = manifestFiles(spark, table, parent)
      .zip(fileLines(spark, table, parent))
    val touched = entries.filter(_._1.admits(column, lo, hi))
    if (touched.isEmpty) return parent
    // metadata-only drop needs every row to match: stats inside the range
    // AND the file proven null-free in the column (nulls never match a
    // range predicate and must survive — marked files are rewritten)
    val (dropped, rewrite) = touched.partition { case (mf, _) =>
      mf.nullFree(column) &&
        mf.stats.get(column).exists { case (flo, fhi) => flo >= lo && fhi <= hi }
    }
    val rels =
      if (rewrite.isEmpty) Seq.empty
      else {
        val keep = spark.read.parquet(rewrite.map(_._1.path): _*)
          .filter(col(column) < lo || col(column) > hi || col(column).isNull)
        // preserve every zone-map column the rewritten inputs carried
        val statsCols = rewrite.flatMap(_._1.stats.keys).distinct
        relLines(spark, table, stage(keep, table, parent + 1), statsCols)
      }
    commitRowLevel(spark, table, parent,
      touched.map(e => relOf(e._2)).toSet,
      carried => s"$DeleteNotePrefix $column in [$lo, $hi]: " +
        s"${dropped.size} files dropped, ${rewrite.size} rewritten, " +
        s"$carried carried",
      rels)
  }

  /** Marker prefix tagging a version as a keyed MERGE (copy-on-write
    * upsert). Like deletes, merge versions are skipped by the
    * incremental feed: their new files mix fresh delta rows with
    * rewritten survivors, which an append-only consumer must not replay.
    */
  val MergeNotePrefix = "merge:"

  /** Keyed MERGE (upsert): rows of the live version whose `keyCol`
    * appears in `delta` are replaced by the delta's rows; unmatched
    * delta rows are inserted — Delta/Iceberg MERGE reduced to the
    * upsert core a CDC-refreshed training table needs. Copy-on-write at
    * file granularity, scoped by the manifest zone maps exactly like
    * [[deleteWhere]]:
    *
    *   - the delta's key envelope [min, max] is one tiny aggregate;
    *     files whose `keyCol` stats cannot intersect it are carried
    *     verbatim (lines, stats, bytes untouched);
    *   - admitting (or stat-less) files are rewritten WITHOUT the rows
    *     whose key occurs in the delta (a left-anti join against the
    *     delta's distinct keys — broadcast or shuffle, AQE's call);
    *   - the delta itself is staged as new files alongside.
    *
    * Rewritten and delta files carry fresh stats on every column the
    * touched inputs carried plus `keyCol`, so later range reads, deletes
    * and merges keep pruning. Schema discipline is the caller's (the
    * delta should match the table's columns; parquet unions otherwise).
    * Null-keyed table rows never match (SQL semantics) and survive.
    * Returns the new version; prior versions stay time-travelable.
    *
    * The delta's staged files are MARKED on their manifest lines (see
    * [[ManifestFile.isMergeDelta]]): [[incrementalRead]] emits exactly
    * those — the merge's upsert row images — while still skipping the
    * rewritten survivors. A lost version-claim race rebases when the
    * winner changed only disjoint files — see [[commitRowLevel]].
    */
  def mergeInto(spark: SparkSession, table: String, delta: DataFrame,
      keyCol: String, epoch: Option[Long] = None): Int = {
    import org.apache.spark.sql.functions.{col, max, min}
    // epoch-stamped merges are exactly-once: a replayed epoch no-ops
    // before anything is read or staged (see [[EpochTag]])
    epoch.foreach { e =>
      if (lastEpoch(spark, table).exists(_ >= e))
        return currentVersion(spark, table)
    }
    val parent = currentVersion(spark, table)
    require(parent > 0, s"nothing to merge into at $table")
    val env = delta.agg(min(col(keyCol).cast("long")),
      max(col(keyCol).cast("long"))).head()
    val entries = manifestFiles(spark, table, parent)
      .zip(fileLines(spark, table, parent))
    val touched =
      if (env.isNullAt(0)) Seq.empty[(ManifestFile, String)]
      else entries.filter(_._1.admits(keyCol, env.getLong(0), env.getLong(1)))
    val v = parent + 1
    val statsCols =
      (touched.flatMap(_._1.stats.keys) :+ keyCol).distinct
    val survivors =
      if (touched.isEmpty) None
      else Some(spark.read.parquet(touched.map(_._1.path): _*)
        .join(delta.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti"))
    val deltaRels = stage(delta, table, v)
    val deltaSet = deltaRels.toSet
    // one stats job over survivors + delta together; the delta's lines
    // then get the feed marker
    val rels = relLines(spark, table,
      survivors.map(s => stage(s, table, v)).getOrElse(Seq.empty) ++ deltaRels,
      statsCols).map { line =>
      if (deltaSet(relOf(line))) s"$DeltaLineMark\t$line" else line
    }
    val stamp = epoch.map(e => s" $EpochTag$e").getOrElse("")
    commitRowLevel(spark, table, parent,
      touched.map(e => relOf(e._2)).toSet,
      carried => s"$MergeNotePrefix $keyCol: ${touched.size} files " +
        s"rewritten, $carried carried$stamp",
      rels, epoch)
  }

  /** The version that was CURRENT at `tsMillis` (TIMESTAMP AS OF): the
    * highest retained version whose manifest — the commit point, so its
    * file mtime IS the commit time — existed by then. -1 if the table
    * had no committed version yet. Expired versions are gone from the
    * listing, so resolution inside the vacuumed range correctly fails
    * downstream at the manifest lookup.
    */
  def versionAt(spark: SparkSession, table: String, tsMillis: Long): Int = {
    val f = fs(spark, new Path(table))
    versions(spark, table)
      .filter(v => f.getFileStatus(manifestPath(table, v)).getModificationTime <= tsMillis)
      .foldLeft(-1)(math.max)
  }

  /** Read the table AT a version (time travel); latest when omitted.
    * `mergeSchema = true` unions the column sets across the version's
    * files (schema evolution: an appended delta may carry new columns;
    * rows from older files read NULL there). Off by default — merging
    * samples every file's footer, a cost a 100 TB read should opt into,
    * and a version whose files share one schema needs none of it.
    */
  def readVersion(spark: SparkSession, table: String,
      version: Option[Int] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, table))
    val r = spark.read
    (if (mergeSchema) r.option("mergeSchema", "true") else r)
      .parquet(files(spark, table, v): _*)
  }

  // ---------------------------------------------------------- named refs
  private def refsDir(table: String) = new Path(table, "_refs")
  private def refPath(table: String, name: String) =
    new Path(refsDir(table), s"$name.ref")

  /** Tag `version` with an immutable human name — Iceberg-style named
    * refs: "the exact bytes run X trained on" becomes `tag("run-x", v)`
    * instead of a version number in a runbook. Tags are created
    * create-EXCLUSIVE (re-tagging an existing name fails loudly — a ref
    * that silently moves is worse than none; drop it first to re-point)
    * and PROTECT their target: [[expire]] retains tagged versions and
    * their files regardless of `keepLast`, so the audited bytes survive
    * routine retention until the tag itself is dropped. A ref is a
    * claimed [[DurableRecord]], like a manifest.
    */
  def tag(spark: SparkSession, table: String, name: String, version: Int): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"tag name must be [A-Za-z0-9][A-Za-z0-9._-]*, got '$name'")
    val mp = manifestPath(table, version)
    require(fs(spark, mp).exists(mp), s"no version $version at $table")
    // claimed: loud if the tag exists
    DurableRecord.claim(conf(spark), refPath(table, name), Seq(version.toString))
  }

  /** Resolve a tag to its version; loud if the tag does not exist, and a
    * torn ref is refused like a torn manifest.
    */
  def resolveTag(spark: SparkSession, table: String, name: String): Int = {
    val rp = refPath(table, name)
    val lines = DurableRecord.read(conf(spark), rp,
      s"delete $rp (a torn ref drops its tag)", claimed = true)
    require(lines.isDefined, s"no tag '$name' at $table")
    require(lines.get.size == 1, s"ref $rp holds ${lines.get.size} lines, not one version")
    lines.get.head.toInt
  }

  /** All tags of a table as (name, version), name-sorted. */
  def tags(spark: SparkSession, table: String): Seq[(String, Int)] = {
    val rd = refsDir(table)
    val f = fs(spark, rd)
    if (!f.exists(rd)) Seq.empty
    else f.listStatus(rd).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".ref")).map(_.stripSuffix(".ref")).sorted
      .map(n => n -> resolveTag(spark, table, n))
  }

  /** Remove a tag (the version becomes expirable again); loud if absent. */
  def dropTag(spark: SparkSession, table: String, name: String): Unit = {
    val rp = refPath(table, name)
    val f = fs(spark, rp)
    require(f.exists(rp), s"no tag '$name' at $table")
    require(f.delete(rp, false), s"dropTag: delete failed for '$name' at $table")
  }

  /** Read the exact table state a tag names. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    readVersion(spark, table, Some(resolveTag(spark, table, name)))

  /** Roll the live table BACK to `toVersion` as a NEW version (Delta
    * RESTORE): the new manifest is a copy of the old version's file
    * lines (stats included) — a pure metadata operation, no data file
    * touched or rewritten. History is preserved (the bad versions stay
    * time-travelable until retention expires them), and delta consumers
    * correctly see the restored rows as re-additions. Only retained
    * versions are restorable — an expired target fails loudly at its
    * manifest lookup.
    */
  def restore(spark: SparkSession, table: String, toVersion: Int): Int = {
    val cur = currentVersion(spark, table)
    require(toVersion >= 1 && toVersion <= cur,
      s"restore target v$toVersion outside [1, $cur] at $table")
    writeManifest(spark, table, cur + 1, s"restore: v$toVersion",
      fileLines(spark, table, toVersion))
  }

  /** The subset of a version's files whose manifest stats ADMIT rows with
    * `column` in [lo, hi] — plus every file without stats on that column,
    * which must be read. Returns (kept paths, total file count); pure
    * manifest arithmetic, no file opened.
    */
  def pruneFiles(spark: SparkSession, table: String, version: Int,
      column: String, lo: Long, hi: Long): (Seq[String], Int) = {
    val all = manifestFiles(spark, table, version)
    (all.filter(_.admits(column, lo, hi)).map(_.path), all.size)
  }

  /** Range read with manifest-stats file skipping: files whose recorded
    * [min, max] cannot intersect [lo, hi] are never handed to the scan —
    * pruning happens at the LISTING, before parquet footers are touched
    * (the footer/row-group zone maps then prune further inside the kept
    * files). The residual per-row filter makes the file-granular prune
    * exact.
    */
  def readVersionWhere(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.getOrElse(currentVersion(spark, table))
    val full = files(spark, table, v)
    require(full.nonEmpty, s"version $v of $table has no files")
    val (kept, _) = pruneFiles(spark, table, v, column, lo, hi)
    val base = if (kept.isEmpty) spark.read.parquet(full: _*).limit(0)
    else spark.read.parquet(kept: _*)
    base.filter(col(column) >= lo && col(column) <= hi)
  }

  /** Only the rows ADDED between `since` (exclusive) and `until`
    * (inclusive; latest when omitted) — the incremental feed. Walks the
    * version chain accumulating each version's file additions, SKIPPING
    * rewrite (compaction) versions — their "new" files hold rows that
    * already existed, and the originals they replaced stay on disk and
    * readable (immutability is what makes the walk sound: an appended
    * file holds exactly its rows forever, live or not). Cost scales with
    * the DELTA's file count plus one manifest read per version crossed,
    * never with the table.
    *
    * Versions tagged [[DeleteNotePrefix]] are skipped like rewrites:
    * their "new" files are copy-on-write survivors of rows that already
    * existed — a delete ADDS nothing. Deletions do not flow through this
    * feed at all (standard append-feed semantics); a consumer that must
    * observe removals diffs versions with [[diff]].
    *
    * Versions tagged [[MergeNotePrefix]] contribute exactly their
    * DELTA-marked files: the merge's upsert row images (inserted keys
    * and the new images of updated keys) flow to consumers — a
    * CDC-refreshed feed must not silently lose genuinely new rows —
    * while the rewritten survivors are skipped as row-neutral. A keyed
    * consumer that wants inserts only filters against its own state;
    * merge versions written before delta marking existed carry no marks
    * and contribute nothing (the old skip behavior).
    */
  def incrementalRead(spark: SparkSession, table: String, since: Int,
      until: Option[Int] = None): DataFrame = {
    val v = until.getOrElse(currentVersion(spark, table))
    require(v >= since, s"until=$v before since=$since at $table")
    val added = scala.collection.mutable.LinkedHashSet.empty[String]
    var prev: Set[String] =
      if (since == 0) Set.empty else files(spark, table, since).toSet
    for (step <- since + 1 to v) {
      val note = noteOf(spark, table, step)
      val mfs = manifestFiles(spark, table, step)
      if (note.startsWith(MergeNotePrefix))
        added ++= mfs.filter(m => m.isMergeDelta && !prev(m.path)).map(_.path)
      else if (!note.startsWith(RewriteNotePrefix) &&
          !note.startsWith(DeleteNotePrefix))
        added ++= mfs.map(_.path).filterNot(prev)
      prev = mfs.map(_.path).toSet
    }
    if (added.isEmpty) spark.read.parquet(files(spark, table, v): _*).limit(0)
    else spark.read.parquet(added.toSeq: _*)
  }

  /** Table history — the DESCRIBE HISTORY surface: one row per version
    * with its note, file count, total bytes, and whether it was a
    * rewrite (compaction). Reads only manifests + file STATUSES, never
    * data bytes — cost is the sum of the per-version file-list lengths
    * (metadata calls), a small multiple of the live file count.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, new Path(table))
    versions(spark, table).map { v =>
      val fl = files(spark, table, v)
      val note = noteOf(spark, table, v)
      (v, note, fl.size.toLong,
        fl.map(p => f.getFileStatus(new Path(p)).getLen).sum,
        note.startsWith(RewriteNotePrefix))
    }.toDF("version", "note", "n_files", "n_bytes", "is_rewrite")
  }

  /** File-level diff between two versions: (added, removed). */
  def diff(spark: SparkSession, table: String,
      from: Int, to: Int): (Seq[String], Seq[String]) = {
    val a = files(spark, table, from).toSet
    val b = files(spark, table, to).toSet
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** Outcome of a retention pass: the versions expired, the data files
    * physically deleted, and the count of expired-version files KEPT
    * because a retained manifest still references them (append chains
    * share files across versions — reference counting is what makes
    * retention safe, not per-version ownership).
    */
  final case class ExpireResult(
      expired: Seq[Int], deleted: Seq[String], keptShared: Int)

  /** Retention vacuum — the piece `compact` explicitly defers to: keep
    * the last `keepLast` versions readable and reclaim everything older.
    * At 100 TB this is what bounds storage: every overwrite/compaction
    * strands a full table copy that time travel holds readable forever
    * until someone says how much history is enough.
    *
    * Discipline (mirror of commit, in reverse):
    *  - A data file is deleted ONLY if no RETAINED manifest references it
    *    — append-chain files shared into the retained window survive, so
    *    time travel within the window stays exact.
    *  - Expired MANIFESTS are deleted FIRST, then the unreferenced files:
    *    the manifest delete is the expire commit point (readers only
    *    follow manifests, so an expired read fails loudly at manifest
    *    lookup the moment its manifest is gone, never by scanning a
    *    half-deleted file list). A crash between the two phases leaves
    *    orphan data files — the same documented crash-orphan class as a
    *    mid-commit crash, harmless to every reader and reclaimable by
    *    any later pass over unreferenced files.
    *  - `incrementalRead` with `since` below the retention floor fails
    *    loudly at the base manifest lookup: a delta from an expired base
    *    is unanswerable, and pretending otherwise would silently replay
    *    the whole table.
    */
  def expire(spark: SparkSession, table: String, keepLast: Int): ExpireResult = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val all = versions(spark, table)
    val cur = all.lastOption.getOrElse(0)
    require(cur > 0, s"nothing to expire at $table")
    val floor = math.max(1, cur - keepLast + 1) // retained: [floor, cur]
    val f = fs(spark, new Path(table))
    // tagged versions are retention-pinned (see [[tag]]): their manifests
    // and files survive any keepLast until the tag is dropped
    val tagged = tags(spark, table).map(_._2).toSet
    val (expired, kept) = all.partition(v => v < floor && !tagged(v))
    if (expired.isEmpty) return ExpireResult(Nil, Nil, 0)
    val retained = kept.flatMap(files(spark, table, _)).toSet
    val candidates = expired.flatMap(files(spark, table, _)).distinct
    val (shared, doomed) = candidates.partition(retained)
    expired.foreach { v =>
      require(f.delete(manifestPath(table, v), false),
        s"expire: manifest delete failed for v$v at $table")
    }
    doomed.foreach(p => f.delete(new Path(p), false))
    ExpireResult(expired, doomed, shared.size)
  }

  /** Reclaim the documented crash-orphan class: files under data/ (plus
    * any stranded `_staging_*` attempt directories) that NO live manifest
    * references — the residue of commits that crashed before their
    * manifest write, losers of commit races, and expire passes that
    * crashed between their two phases. Only entries older than
    * `olderThanMs` are touched: a commit IN FLIGHT right now has staged
    * files but no manifest yet, and deleting them would corrupt the
    * commit it is about to make — the age guard is what makes GC safe to
    * run concurrently with writers (Delta/Iceberg VACUUM's retention
    * argument, same reasoning). Returns the deleted paths.
    */
  def vacuumOrphans(spark: SparkSession, table: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val root = new Path(table)
    val f = fs(spark, root)
    if (!f.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    // compare by FS-qualified path: listStatus returns scheme-qualified
    // paths (file:/...) while manifests resolve scheme-less — a raw
    // string compare would miss every live file and vacuum the table
    // (caught by FormatsSpec before it could ship)
    def qual(p: Path): String = f.makeQualified(p).toString
    val live: Set[String] = versions(spark, table)
      .flatMap(v => files(spark, table, v)).map(p => qual(new Path(p))).toSet
    val dataDir = new Path(table, "data")
    val orphanFiles =
      if (!f.exists(dataDir)) Seq.empty
      else f.listStatus(dataDir).toSeq
        .filter(st => st.getModificationTime < cutoff &&
          !live.contains(qual(st.getPath)))
        .map(_.getPath)
    val staleStaging = f.listStatus(root).toSeq
      .filter(st => st.getPath.getName.startsWith("_staging_") &&
        st.getModificationTime < cutoff)
      .map(_.getPath)
    (orphanFiles ++ staleStaging).map { p =>
      f.delete(p, true); p.toString
    }
  }
}
