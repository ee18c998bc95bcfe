package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Transactional table with MERGE (upsert) semantics on plain parquet —
  * the engine's replacement for the reference's DynamoDB `update_item`
  * mutation (metadata.py:82-174) when a true update-in-place table is
  * wanted rather than the event-sourced ledger ([[graft.meta.JobLedger]]).
  *
  * Delta-style copy-on-write with an optimistic commit log:
  *
  *  - Every commit writes a full new snapshot under a uniquely-named data
  *    directory (`v-<version>-<uuid>`), so concurrent writers can never
  *    scribble on each other's files.
  *  - The commit POINT is an exclusive create of `_commits/<version>.json`
  *    — the filesystem's atomic create-if-absent arbitrates racing
  *    writers exactly like Delta's log-store put-if-absent. The loser's
  *    orphan data directory is invisible (no commit references it) and is
  *    reclaimed by [[TxTable.vacuum]].
  *  - Readers resolve max committed version → its data directory; a crash
  *    between data write and commit leaves the table at the old version.
  *  - Old versions stay readable ([[TxTable.readVersion]], time travel)
  *    until vacuumed.
  *
  * Scale notes: the snapshot rewrite is proportional to table size, which
  * is the right trade for control-plane and dimension tables (the DynamoDB
  * use case this replaces). For a 100 TB fact table you'd partition the
  * table and rewrite only matched partitions — the commit protocol here is
  * unchanged by that; only the rewrite set shrinks. Object stores without
  * atomic create-if-absent (S3 before conditional puts) need a log-store
  * service for `_commits`, same as Delta.
  */
object TxTable {

  final case class Commit(version: Long, dataDir: String, operation: String,
                          rows: Long, timestamp: String)

  final case class MergeStats(version: Long, updated: Long, inserted: Long, total: Long)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsDir(dir: String) = new Path(dir, "_commits")

  /** All commits, oldest first; empty if the table doesn't exist. */
  def history(spark: SparkSession, dir: String): Seq[Commit] = {
    val f = fs(spark, dir)
    val cd = commitsDir(dir)
    if (!f.exists(cd)) return Seq.empty
    f.listStatus(cd).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .flatMap(st => readParsed(f, st.getPath))
      .sortBy(_.version)
  }

  /** Read + parse one commit file; None if absent or unparseable (a torn
    * file from a crash mid-write must degrade, not brick the table).
    */
  private def readParsed(f: FileSystem, p: Path): Option[Commit] = {
    if (!f.exists(p)) return None
    val in = f.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    parseCommit(body)
  }

  /** One listing + normally ONE small read: commit file names are
    * zero-padded versions, so resolution starts from the max name and
    * walks down only past torn (unparseable) files. Constant cost per
    * operation — the alternative of parsing the whole log would make
    * commit latency grow with table age on a long-lived streaming-merge
    * table.
    */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val cd = commitsDir(dir)
    if (!f.exists(cd)) return 0L
    val named = f.listStatus(cd).iterator
      .map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .toSeq.sorted(Ordering[Long].reverse)
    // Walk down past torn commit files (crash between create and write):
    // the newest PARSEABLE commit is the table's version.
    named.find(v => readParsed(f, commitPath(dir, v)).isDefined).getOrElse(0L)
  }

  /** Latest snapshot; empty-schema error if the table has no commits. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, currentVersion(spark, dir))

  /** Thrown by [[readVersion]] when the version IS in the commit log but
    * its data directory has been physically expunged by [[vacuum]] —
    * the typed signal compliance checks (GDPR expungement proof) catch,
    * distinguishable from unrelated failures (FS error, OOM, missing
    * version).
    */
  final class VacuumedVersionException(msg: String)
    extends IllegalStateException(msg)

  /** Time travel to an exact committed version. Reads one commit file. */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val c = readCommit(spark, dir, version).getOrElse(
      throw new IllegalArgumentException(s"no committed version $version in $dir"))
    val dataPath = new Path(dir, c.dataDir)
    if (!fs(spark, dir).exists(dataPath))
      throw new VacuumedVersionException(
        s"version $version of $dir is committed but its data " +
          s"(${c.dataDir}) has been vacuumed")
    spark.read.parquet(dataPath.toString)
  }

  /** Change data feed: classify every key's transition between two
    * committed versions — the "what changed since the snapshot I
    * exported" question every incremental consumer asks of a
    * transactional table, answered from time travel alone (no
    * write-path hooks, no per-commit row logs: a keyed full-outer join
    * of the two snapshots, which shuffles each side once on the key and
    * scales exactly like any keyed join).
    *
    * Output: the key columns, `change_type`
    * (`insert` | `update` | `delete` | `unchanged`), and the non-key
    * columns carrying the POST image (the PRE image for deletes — the
    * row as the consumer last saw it). A key whose values are equal in
    * both versions (null-safe, field-wise) is `unchanged`; callers
    * wanting a sparse feed filter it out.
    *
    * By default both snapshots must have identical column sets — a feed
    * across a schema-evolution boundary is refused rather than guessed.
    * With `allowSchemaEvolution = true` the feed is defined AT THE READ
    * SCHEMA (the `toVersion` snapshot's columns — the Delta CDF
    * contract): columns the post version added are null-filled in the
    * pre image (so a row whose only change is the new column being
    * populated classifies as `update`), columns the post version
    * dropped vanish from the feed, and shared columns are cast to the
    * post type. Key columns must exist in both versions — a feed keyed
    * on a column one side lacks has no join identity.
    */
  def changes(spark: SparkSession, dir: String,
              fromVersion: Long, toVersion: Long,
              keyCols: Seq[String],
              allowSchemaEvolution: Boolean = false): DataFrame = {
    val rawPre = readVersion(spark, dir, fromVersion)
    val post = readVersion(spark, dir, toVersion)
    require(allowSchemaEvolution ||
      rawPre.columns.sorted.sameElements(post.columns.sorted),
      s"changes() across a schema change is not defined: " +
        s"v$fromVersion has [${rawPre.columns.mkString(",")}], " +
        s"v$toVersion has [${post.columns.mkString(",")}] — pass " +
        "allowSchemaEvolution = true to read the feed at the post schema")
    require(keyCols.forall(rawPre.columns.contains) &&
      keyCols.forall(post.columns.contains),
      s"key columns [${keyCols.mkString(",")}] must exist in both " +
        s"v$fromVersion and v$toVersion")
    // Align pre to the read schema: post's columns, post's types.
    val preCols = rawPre.columns.toSet
    val pre = rawPre.select(post.schema.fields.map { f =>
      if (preCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val valCols = post.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as(as): _*)
    packed(pre, "__pre").join(packed(post, "__post"), keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__pre").isNull, lit("insert"))
          .when(col("__post").isNull, lit("delete"))
          .when(col("__pre") <=> col("__post"), lit("unchanged"))
          .otherwise(lit("update")))
      .withColumn("__img", coalesce(col("__post"), col("__pre")))
      .select(keyCols.map(col) ++ (col("change_type") +:
        valCols.map(c => col(s"__img.`$c`").as(c))): _*)
  }

  private def commitPath(dir: String, version: Long): Path =
    new Path(commitsDir(dir), f"$version%020d.json")

  private def readCommit(spark: SparkSession, dir: String, version: Long): Option[Commit] =
    readParsed(fs(spark, dir), commitPath(dir, version))

  /** Create the table at version 1 from `df`. Fails if it already exists. */
  def init(spark: SparkSession, dir: String, df: DataFrame): Unit = {
    require(currentVersion(spark, dir) == 0L, s"$dir already initialized")
    commit(spark, dir, df, expectedBase = 0L, "init") match {
      case None => throw new java.io.IOException(
        s"concurrent writer initialized $dir first")
      case Some(_) => ()
    }
  }

  /** MERGE: for each key in `updates`, replace the current row (matched)
    * or insert (not matched). `updates` must be unique per key — a
    * multi-row key would make "the" update nondeterministic, so it errors.
    * Retries on concurrent-commit conflict up to `maxRetries`, recomputing
    * against the new base each time (optimistic concurrency).
    *
    * `allowSchemaEvolution = true` relaxes the exact-columns contract:
    * columns NEW in `updates` are added to the table (null for untouched
    * rows), and table columns ABSENT from `updates` are preserved —
    * matched rows keep their existing values for them, inserts get null.
    * A column present on both sides always takes the update's value,
    * including an explicit null. Key columns must exist on both sides
    * either way.
    */
  def merge(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      keyCols: Seq[String],
      maxRetries: Int = 3,
      allowSchemaEvolution: Boolean = false
  ): MergeStats = {
    // Materialize updates once: the dup-key check, matched count,
    // anti-join, union write, and any conflict retries would otherwise
    // each re-execute the caller's (possibly expensive) plan — and a
    // nondeterministic source would make the attempts inconsistent.
    // The batch count rides the materialization job (Dataset.observe,
    // guide §1.4) — was a second full pass over the checkpointed frame.
    val (upd, updCount) = graft.core.Durable.materializeCounted(updates)
    require(keyCols.forall(upd.columns.contains),
      s"updates missing key columns ${keyCols.filterNot(upd.columns.contains)}")

    var attempt = 0
    while (attempt <= maxRetries) {
      val base = currentVersion(spark, dir)
      require(base > 0, s"$dir not initialized; call init first")
      val current = readVersion(spark, dir, base)
      if (!allowSchemaEvolution)
        require(current.columns.sorted.sameElements(upd.columns.sorted),
          s"schema mismatch: table ${current.columns.toSeq.sorted} vs " +
            s"updates ${upd.columns.toSeq.sorted} (pass allowSchemaEvolution=true to evolve)")

      // Final column order: table columns, then update-only columns.
      val newCols = upd.columns.filterNot(current.columns.contains)
      val finalCols = current.columns ++ newCols
      val updType = upd.schema.fields.map(f => f.name -> f.dataType).toMap
      val curWide = newCols.foldLeft(current)((d, c) =>
        d.withColumn(c, lit(null).cast(updType(c))))

      // ONE job answers both per-key questions (was two: a dup-key
      // groupBy + a separate semi-join count — guide §1.4): per-key
      // multiplicity of the updates joined against the DISTINCT table
      // keys. `matched` counts UPDATE KEYS found in the table (not table
      // rows — a table carrying duplicate keys would otherwise drive
      // `inserted` negative; the distinct on the table side keeps the
      // join fan-out-free for the same reason). The dup-key require
      // re-fires per retry attempt, which is harmless — upd is
      // checkpointed and immutable.
      val keyStats = upd.select(keyCols.map(col): _*)
        .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
        .join(current.select(keyCols.map(col): _*).distinct()
          .withColumn("__t", lit(1)), keyCols, "left")
        .agg(max(col("__n")).as("__maxn"), count(col("__t")).as("__matched"))
        .collect()(0)
      if (!keyStats.isNullAt(0) && keyStats.getLong(0) > 1L) {
        // failure path only: fetch an example key for the error message
        val dup = upd.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"updates carry duplicate keys (e.g. ${dup.headOption.getOrElse("")}); " +
            "MERGE needs one row per key")
      }
      val matched = keyStats.getLong(1)
      val kept = curWide.join(upd.select(keyCols.map(col): _*), keyCols, "left_anti")
      val carriesAll = current.columns.forall(upd.columns.contains)
      val updFull =
        if (carriesAll) upd.select(finalCols.map(col): _*)
        else {
          // Updates omit table columns → matched rows must pull existing
          // values via a join. That join fans out if the TABLE carries
          // duplicate keys (init never checked), silently multiplying
          // update rows into the snapshot — so enforce key uniqueness
          // before joining. The full-columns fast path above needs no
          // join at all (anti-join + union was always fan-out-safe).
          val tableDups = current.groupBy(keyCols.map(col): _*)
            .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).collect()
          require(tableDups.isEmpty,
            s"table carries duplicate keys (e.g. ${tableDups.headOption.getOrElse("")}); " +
              "column-preserving MERGE (schema evolution with absent columns) needs " +
              "one row per key")
          upd.as("u")
            .join(curWide.as("t"), keyCols, "left")
            .select(finalCols.map { c =>
              if (keyCols.contains(c)) col(c) // using-join merges key columns
              else if (upd.columns.contains(c)) col(s"u.$c").as(c)
              else col(s"t.$c").as(c)
            }: _*)
        }
      val merged = kept.select(finalCols.map(col): _*)
        .unionByName(updFull)

      commit(spark, dir, merged, base, "merge") match {
        case Some(total) =>
          return MergeStats(base + 1, updated = matched,
            inserted = updCount - matched, total = total)
        case None => attempt += 1 // lost the race; recompute against new base
      }
    }
    throw new java.io.IOException(
      s"MERGE on $dir lost the commit race $maxRetries times; giving up")
  }

  /** `foreachBatch` handler that MERGEs every micro-batch into the table —
    * the streaming-upsert pattern: `stream.writeStream.foreachBatch(
    * TxTable.mergeSink(dir, Seq("id"), orderBy = Some("ts"))).start()`.
    *
    * Exactly-once effect without sink-side batchId bookkeeping: a replayed
    * micro-batch re-merges the same rows by key, which lands the table in
    * the same state (upsert is content-idempotent). `orderBy` names a
    * column whose LARGEST value wins when one batch carries several rows
    * per key (e.g. an event timestamp); without it the batch must already
    * be unique per key. The first batch initializes the table.
    */
  def mergeSink(dir: String, keyCols: Seq[String], orderBy: Option[String] = None)
      : (DataFrame, Long) => Unit = (batch: DataFrame, _: Long) => {
    val spark = batch.sparkSession
    // Emptiness is checked on the RAW batch (cheap limit-1) so the
    // window-dedup plan below runs exactly once, inside merge/init — an
    // isEmpty on the deduped frame would execute the whole dedup twice
    // per micro-batch.
    if (batch.isEmpty) ()
    else {
      val deduped = orderBy match {
        case Some(ord) => graft.dedup.ExactDedup.keepFirst(
          batch, keyCols, tiebreak = Seq(col(ord).desc))
        case None => batch
      }
      if (currentVersion(spark, dir) == 0L) init(spark, dir, deduped)
      else { merge(spark, dir, deduped, keyCols); () }
    }
  }

  /** Transactional delete of all rows matching `predicate` (SQL string,
    * Catalyst `expr`). Same retry/commit protocol as merge.
    */
  def delete(spark: SparkSession, dir: String, predicate: String,
             maxRetries: Int = 3): Long = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val base = currentVersion(spark, dir)
      require(base > 0, s"$dir not initialized")
      val current = readVersion(spark, dir, base)
      // SQL DELETE semantics: a NULL predicate is "not matched", so the
      // row survives. A bare !expr would turn NULL into NULL and the
      // filter would silently delete those rows.
      val remaining = current.filter(!coalesce(expr(predicate), lit(false)))
      commit(spark, dir, remaining, base, "delete") match {
        case Some(total) => return total
        case None => attempt += 1
      }
    }
    throw new java.io.IOException(s"DELETE on $dir lost the commit race; giving up")
  }

  /** OPTIMIZE: rewrite the CURRENT snapshot into `numFiles` files as a
    * new committed version with identical content. Trickle ingest and
    * streaming merges leave each version's data scattered across many
    * small files — the classic small-file problem: scan task count and
    * footer/open overhead grow with file count, not data size. Compaction
    * is just a read + rewrite through the same optimistic commit path, so
    * concurrent writers are arbitrated exactly like any merge; the old
    * version stays readable (time travel) until vacuumed.
    *
    * `zOrderBy` optionally clusters the rewrite by the Morton Z-value of
    * the given columns ([[ZOrder.cluster]]) — the OPTIMIZE ZORDER BY
    * recipe — so parquet row-group min/max stats prune on every listed
    * axis, not just the first sort column.
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 1,
              zOrderBy: Seq[String] = Seq.empty, maxRetries: Int = 3): Long = {
    require(numFiles > 0, s"compact(numFiles = $numFiles)")
    var attempt = 0
    while (attempt <= maxRetries) {
      val base = currentVersion(spark, dir)
      require(base > 0, s"$dir not initialized")
      val current = readVersion(spark, dir, base)
      val arranged =
        if (zOrderBy.nonEmpty) ZOrder.cluster(current, zOrderBy, numFiles)
        // coalesce, not repartition: pure compaction needs no shuffle —
        // tasks just concatenate input splits
        else current.coalesce(numFiles)
      commit(spark, dir, arranged, base, "compact") match {
        case Some(total) => return total
        case None => attempt += 1
      }
    }
    throw new java.io.IOException(s"COMPACT on $dir lost the commit race; giving up")
  }

  /** Drop data directories of versions older than the newest `keep`
    * committed versions, plus orphans from lost commit races. Keeps the
    * commit log itself (history stays queryable; time travel to vacuumed
    * versions fails with a clear error from the missing directory).
    *
    * `graceMs` protects IN-FLIGHT commits: a concurrent writer that has
    * written its snapshot but not yet claimed the commit file looks
    * exactly like a crash orphan, so uncommitted directories younger
    * than the grace window are left alone (the same reason Delta's
    * VACUUM has a retention threshold). Pass 0 only when no other writer
    * can be active.
    */
  def vacuum(spark: SparkSession, dir: String, keep: Int = 2,
             graceMs: Long = 60 * 60 * 1000L): Unit = {
    // keep = 0 would delete the CURRENT version's data directory while the
    // commit log still points at it, bricking the next read() on a healthy
    // table — there is no valid use for it, so fail loudly at the call site.
    require(keep >= 1, s"vacuum(keep = $keep): must retain at least the current version")
    val f = fs(spark, dir)
    val commits = history(spark, dir)
    val live = commits.takeRight(keep).map(_.dataDir).toSet
    val committed = commits.map(_.dataDir).toSet
    val root = new Path(dir)
    if (!f.exists(root)) return
    val cutoff = System.currentTimeMillis() - graceMs
    f.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val isOrphan = !committed.contains(name)
      if (st.isDirectory && name.startsWith("v-") && !live.contains(name) &&
          (!isOrphan || st.getModificationTime < cutoff))
        f.delete(st.getPath, true)
    }
    // _commits housekeeping: temp files a crashed local commit left
    // behind (write-then-hardlink), and quarantined torn commits — both
    // invisible to readers, reclaimed past the grace window.
    val cd = commitsDir(dir)
    if (f.exists(cd)) f.listStatus(cd).foreach { st =>
      val n = st.getPath.getName
      if ((n.endsWith(".tmp") || n.contains(".torn.")) &&
          st.getModificationTime < cutoff)
        f.delete(st.getPath, false)
    }
  }

  /** Write `df` as the snapshot for version `expectedBase + 1` and try to
    * claim that version with an exclusive commit-file create. Returns
    * row count on success, None if another writer claimed it first.
    */
  private def commit(spark: SparkSession, dir: String, df: DataFrame,
                     expectedBase: Long, operation: String): Option[Long] = {
    val f = fs(spark, dir)
    val version = expectedBase + 1
    val dataDir = s"v-$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val dataPath = new Path(dir, dataDir)
    // The committed row count rides the snapshot WRITE (Dataset.observe
    // — guide §1.4): the old read-back count was a full re-scan of the
    // just-written files per commit, which at a 100 TB dimension table
    // is one extra pass of the whole snapshot per merge. A provably-
    // empty snapshot is optimizer-eliminated with its CollectMetrics
    // node — absent metrics read as 0, which is exactly the rows written.
    val rowCount = new graft.core.Durable.RowCount
    rowCount.on(df).write.mode(SaveMode.Overwrite).parquet(dataPath.toString)
    val rows = rowCount.n

    f.mkdirs(commitsDir(dir))
    val cPath = commitPath(dir, version)
    val body = renderCommit(Commit(version, dataDir, operation, rows,
      java.time.Instant.now().toString))
    try {
      // Atomic create-if-absent arbitrates racing writers: exactly one
      // create for a given version succeeds. Hadoop's LocalFileSystem
      // implements create(overwrite=false) as exists-check THEN create —
      // a TOCTOU window where both racers win — so when the RESOLVED
      // filesystem (not the raw path, which is scheme-less under any
      // fs.defaultFS) is local, the commit goes through a fully-written
      // temp file + hardlink: link(2) is atomic, fails if the target
      // exists, and the target can never be observed torn. Other stores
      // use the FS contract (HDFS create is atomic; S3 needs a log-store
      // service, as Delta's docs say).
      if (f.getUri.getScheme == "file") {
        val target = java.nio.file.Paths.get(
          f.makeQualified(cPath).toUri.getPath)
        val tmp = target.resolveSibling(s"$dataDir.tmp")
        java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
        try java.nio.file.Files.createLink(target, tmp)
        finally java.nio.file.Files.deleteIfExists(tmp)
      } else {
        val out = f.create(cPath, false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      Some(rows)
    } catch {
      case e: java.io.IOException =>
        f.delete(dataPath, true) // our snapshot lost; remove the orphan
        if (f.exists(cPath)) {
          // Existing file: either a genuine race (a real commit — back
          // off and retry against the new base) or a TORN file from a
          // crashed non-atomic writer, which would otherwise brick every
          // future commit at this version ("lost the race" forever).
          // Quarantine torn files once they are old enough that they
          // cannot be an in-progress write (HDFS readers see length 0
          // until the writer closes).
          val st = f.getFileStatus(cPath)
          val torn = readParsed(f, cPath).isEmpty &&
            st.getModificationTime < System.currentTimeMillis() - 60000L
          if (torn) {
            f.rename(cPath, new Path(cPath.getParent,
              s"${cPath.getName}.torn.${java.util.UUID.randomUUID().toString.take(8)}"))
          }
          None // retry either way; after quarantine the version is free
        } else throw e
    }
  }

  private def renderCommit(c: Commit): String =
    s"""{"version":${c.version},"data_dir":"${c.dataDir}","operation":"${c.operation}","rows":${c.rows},"timestamp":"${c.timestamp}"}"""

  private val commitRe =
    """\{"version":(\d+),"data_dir":"([^"]+)","operation":"([^"]+)","rows":(\d+),"timestamp":"([^"]+)"\}""".r

  private def parseCommit(body: String): Option[Commit] = body.trim match {
    case commitRe(v, d, op, n, ts) => Some(Commit(v.toLong, d, op, n.toLong, ts))
    case _ => None
  }
}
