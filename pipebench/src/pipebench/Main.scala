package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.EngineSession

/** End-to-end benchmark of the `Pipeline` jobs. One run: set up
  * (session + seeded inputs + warm-up) five times, call the job once cold,
  * then call it warm for `--seconds`, checking every output. Prints one
  * JSON line: end-to-end metrics, or with `--trace 1` the per-layer ones.
  *
  * Usage: pipebench.Main --workload <etl_batch|crawl_drains> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --cores <n> [--spans <file>]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, spans: Option[String])

  val SetupRuns = 5

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("cores", "4").toInt, m.get("spans"))
    require(Workload.all.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}")
    o
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(o: Opts): SparkSession = {
    val spark = EngineSession
      .builder(master = s"local[${o.cores}]", shufflePartitions = o.cores,
        appName = "pipebench")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    EngineSession.quietLocalCheckpointWarnings()
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Between ops, outside every timed window: drop cached blocks and
    * checkpoints, unload streaming state stores, delete the op's output.
    */
  def cleanup(spark: SparkSession, out: String): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    // the state-store registry is JVM-wide and its unload is not public API
    val registry = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    registry.getMethod("unloadAll").invoke(registry.getField("MODULE$").get(null)): Unit
    if (out.nonEmpty) deleteRec(new File(out))
    System.gc()
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  /** SHA-256 over the sorted relative paths and bytes of every file. */
  def treeHash(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = new File(dir).toPath
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString -> p).toSeq.sortBy(_._1)
    files.foreach { case (rel, p) =>
      md.update(rel.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** One measured job call and its read-back. */
  final case class OpResult(jobS: Double, queryS: Double, bytesOut: Long,
      called: Called, stats: Option[OpStats], spans: Map[String, Double],
      selfShares: Map[String, Double], gcS: Double, codegenFailures: Long)

  def main(args: Array[String]): Unit = {
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val o = parse(args)
    val wl = Workload.all(o.workload)
    var attempted = 0
    var failed = 0
    def record(what: String, errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) {
        failed += 1
        errs.foreach(e => System.err.println(s"[pipebench] $what: $e"))
      }
    }

    // ---- set-up, several times: session + seeded inputs + warm-up ----
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tap: CodegenTap = null
    var planted: Planted = null
    var inputHash = ""
    for (i <- 0 until SetupRuns) {
      if (spark != null) stopSession(spark)
      if (planted != null) deleteRec(new File(planted.dir).getParentFile)
      val t0 = System.nanoTime()
      spark = session(o)
      if (tap == null) tap = CodegenTap.install()
      planted = wl.generate(spark, s"${o.work}/input-$i", o.seed)
      spark.range(0L, 200000L, 1L, o.cores).selectExpr("sum(id)").collect(): Unit
      setups += secs(t0)
      val h = treeHash(planted.dir)
      if (i > 0) record("input determinism",
        if (h == inputHash) Nil else Seq(s"setup $i wrote different inputs"))
      inputHash = h
    }
    println(s"input_sha256 ${o.workload} seed=${o.seed} $inputHash " +
      s"bytes=${planted.bytes} records=${planted.records}")

    val collector = new Collector(spark)
    val sampler = new SpanSampler(Thread.currentThread())

    /** Runs call `op`: untimed preparation, the timed call, then (untimed)
      * the listener settle, the observation of its output, the output
      * check and the read-back.
      */
    def runOp(traced: Boolean, op: Int): OpResult = {
      val out = wl.outDir(o.work, op)
      wl.prepare(planted, op, out)
      if (traced) { collector.begin(); collector.attach(); sampler.start(op, s"op:${wl.name}") }
      val fail0 = tap.failures.get
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      val raw =
        try Right(wl.call(spark, planted, op, out))
        catch { case e: Exception => Left(e.toString) }
      val jobS = secs(t0)
      val gcS = (gcMillis - gc0) / 1e3
      val (spans, self) = if (traced) sampler.stop() else (Map.empty[String, Double], Map.empty[String, Double])
      val stats = if (traced) { collector.settle(); Some(collector.end()) } else None
      if (traced) collector.detach()
      val failures = tap.failures.get - fail0
      val called = raw.fold(err => Called(out, ok = false, err, Map.empty), r =>
        try wl.observe(spark, planted, op, out, r)
        catch { case e: Exception => Called(out, ok = false, e.toString, Map.empty) })
      record(s"op $op output", wl.check(planted, op, called))
      val bytesOut = Workload.dirBytes(out)
      // the read-back is short: repeat it (at least 5 times, ~2 s in all)
      // and keep the median wall
      val reads = mutable.ArrayBuffer.empty[Double]
      val r0 = System.nanoTime()
      while (reads.size < 5 || (secs(r0) < 2.0 && reads.size < 15)) {
        val q0 = System.nanoTime()
        val qErr =
          try if (called.ok) wl.readBack(spark, planted, called) else Seq("no output to read")
          catch { case e: Exception => Seq(e.toString) }
        reads += secs(q0)
        record(s"op $op read-back", qErr)
      }
      val queryS = median(reads.toSeq)
      cleanup(spark, if (wl.keepsOutput) "" else out)
      OpResult(jobS, queryS, bytesOut, called, stats, spans, self, gcS, failures)
    }

    // ---- the first job call of the JVM (cold) ----
    val compile0 = tap.compileNanos.get
    val first = runOp(traced = false, op = 0)
    var opNo = 1

    // ---- warm calls for --seconds (half untraced, half traced with --trace 1) ----
    def loop(budget: Double, traced: Boolean): Seq[OpResult] = {
      val t0 = System.nanoTime()
      val rs = mutable.ArrayBuffer.empty[OpResult]
      while (rs.isEmpty || secs(t0) < budget) { rs += runOp(traced, opNo); opNo += 1 }
      rs.toSeq
    }
    val plain = loop(if (o.trace) o.seconds / 2 else o.seconds, traced = false)
    val traced = if (o.trace) loop(o.seconds / 2, traced = true) else Nil
    val compileS = (tap.compileNanos.get - compile0) / 1e9
    // one untimed multi-drain call on the same starting state: drain wall
    // against drain index
    val growth =
      if (o.trace && wl.growth) Some(runOp(traced = true, Workload.GrowthOp)) else None

    // the curate probe: one traced `Pipeline.curate` call over its own
    // seeded WARC corpus, then the kernel rows/s over the same corpus
    val probe =
      if (o.trace && wl == CrawlDrains) {
        val in = CurateWarc.generate(spark, s"${o.work}/curate-in", o.seed)
        val out = CurateWarc.outDir(o.work, 0)
        sampler.start(opNo, "op:curate_probe")
        val raw =
          try Right(CurateWarc.call(spark, in, 0, out))
          catch { case e: Exception => Left(e.toString) }
        val (spans, _) = sampler.stop()
        val called = raw.fold(err => Called(out, ok = false, err, Map.empty),
          r => CurateWarc.observe(spark, in, 0, out, r))
        record("curate probe output", CurateWarc.check(in, 0, called))
        record("curate probe read-back",
          try if (called.ok) CurateWarc.readBack(spark, in, called) else Nil
          catch { case e: Exception => Seq(e.toString) })
        cleanup(spark, out)
        Layers.curateProbe(spans, called, Kernels.measure(spark, in, o.cores))
      } else Layers.curateProbe(Map.empty, Called("", ok = false, "", Map.empty), Kernels.none)

    // Spark's ContextCleaner frees broadcasts and shuffle metadata only
    // after a GC has found them unreachable, on its own thread: collect
    // several times, letting it catch up, and keep the floor
    val heapMb = (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val jobS = median(plain.map(_.jobS))
    def walls(xs: Seq[Double]) = xs.map(x => String.format(Locale.ROOT, "%.3f", Double.box(x)))
      .mkString(" ")
    System.err.println(s"[pipebench] setup walls: ${walls(setups.toSeq)}; first job: " +
      s"${walls(Seq(first.jobS))}; warm job walls: ${walls(plain.map(_.jobS))}")
    val sites = tap.failureSites.synchronized(tap.failureSites.toSeq)
    if (sites.nonEmpty) System.err.println("[pipebench] codegen fallbacks by call site: " +
      sites.groupBy(identity).map { case (s, n) => s"$s x${n.size}" }.toSeq.sorted.mkString(", "))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", jvmS + median(setups.toSeq), "s"),
        ("first_job_s", first.jobS, "s"),
        ("job_s", jobS, "s"),
        ("records_per_s", median(plain.map(r => r.called.records / r.jobS)), "records/s"),
        ("query_s", median(plain.map(_.queryS)), "s"),
        ("heap_retained_mb", heapMb, "MB"),
        ("bytes_out_per_byte_in",
          median(plain.map(r => r.bytesOut.toDouble / math.max(1L, r.called.inBytes))), "ratio"))
      else Layers.report(o, traced, growth, jobS, compileS, first) ++ probe

    stopSession(spark)
    if (o.trace) o.spans.foreach { path =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        sampler.spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8")): Unit
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim
}
