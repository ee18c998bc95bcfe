package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Wipe-guard predicate for the output dir. Positive evidence is
    * required before anything is deleted: a Verify marker file
    * (manifest.json / oracle_sql.json) or at least one per-query dump
    * directory (every query name starts with "q" — a CRASHED earlier run
    * leaves only those, no markers). Dot/underscore metadata is tolerated
    * alongside but NEVER counts as evidence on its own — a directory of
    * dotfiles is some other tool's state, not ours (ADVICE r3). An empty
    * dir is trivially safe to clear.
    */
  private[graft] def looksLikeVerifyOut(entries: Seq[String]): Boolean = {
    // Dump dirs follow the query naming convention exactly (q<digits>_...)
    // — a bare "q" prefix would bless unrelated names like "queries.csv"
    // or "quarterly/" for recursive deletion.
    val recognized = entries.forall(recognizes)
    val positive = entries.isEmpty ||
      entries.contains("manifest.json") || entries.contains("oracle_sql.json") ||
      entries.exists(isDump)
    recognized && positive
  }

  private val dumpName = "^q\\d+_.+".r
  private def isDump(n: String) = dumpName.matches(n)

  /** Single recognizer shared by the guard and its refusal message, so
    * the message lists exactly the entries that caused the refusal
    * (ADVICE r4: a stale startsWith("q") filter printed an EMPTY
    * "unrecognized contents" list for names like "queries.csv").
    */
  private[graft] def recognizes(n: String): Boolean =
    n == "manifest.json" || n == "oracle_sql.json" ||
      isDump(n) || n.startsWith(".") || n.startsWith("_")

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. Bench's JSON line uses the same escape.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.EngineSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus, appName = "graft-verify")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Start from an EMPTY outDir: a failed query would otherwise leave a
    // previous run's parquet dump in place and the compare would bless
    // stale results under a fresh manifest. Refuse to wipe anything that
    // does not look like a Verify output dir (guards transposed args —
    // the sf dataset must never be deletable by argument order), and use
    // the Hadoop FS recursive delete, which surfaces failures instead of
    // silently leaving stale files (File.listFiles can return null,
    // File.delete returns an ignorable boolean).
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val hfs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(outPath)) {
      val entries = hfs.listStatus(outPath).map(_.getPath.getName).toSeq
      if (!looksLikeVerifyOut(entries)) {
        // Either some entry is unrecognized, or everything is
        // dot/underscore metadata with no positive Verify marker — name
        // the offenders (or the lack of markers) accordingly.
        val unrecognized = entries.filterNot(recognizes)
        val why =
          if (unrecognized.nonEmpty)
            s"unrecognized contents: ${unrecognized.take(5).mkString(", ")}"
          else "no Verify marker (manifest.json / oracle_sql.json / q<digits>_* dump) present"
        sys.error(s"REFUSING to clear $outDir: not a Verify output dir ($why)")
      }
      if (!hfs.delete(outPath, true))
        sys.error(s"failed to clear $outDir")
    }
    hfs.mkdirs(outPath)
    val failedQueries = scala.collection.mutable.ArrayBuffer.empty[String]
    // Dev-only subset filter (comma-separated names), same contract as
    // Bench's: the driver sets no filter and always dumps the full
    // battery. check_oracle.py compares whatever dumps exist.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // TIMESTAMP → TIMESTAMP_NTZ on output: session TZ is UTC so wall
      // clock is unchanged, and the parquet file then carries
      // isAdjustedToUTC=false — naive datetimes on read, matching what
      // DuckDB hands the driver's compare.
      try {
        val out = fn(spark, sfDir)
        val norm = out.schema.fields.foldLeft(out) { (d, f) =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
          else d
        }
        norm.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        failedQueries += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance manifest: records WHICH sf the dump came from so the
    // compare step can refuse a cross-sf or stale comparison (ADVICE r1:
    // a sf0.01 dump checked against sf0.1 produced 4 phantom mismatches).
    val sha =
      try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD")).!!.trim
      catch { case _: Throwable => "unknown" }
    val manifest = Map(
      "sf_dir" -> Paths.get(sfDir).toRealPath().toString,
      "git_sha" -> sha,
      "written_at" -> java.time.Instant.now().toString,
      "failed" -> failedQueries.sorted.mkString(","))
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      manifest.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
