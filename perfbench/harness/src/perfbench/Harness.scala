package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.logs.{LogLines, LogSource}
import graft.mine.TemplateMining
import graft.operators.EventMatrix

/** Benchmark harness: one JVM, one closed-loop client.
  *
  * It calls the engine only through its public functions and writes raw
  * samples; `run.py` turns them into metrics. Usage (all flags required
  * unless noted):
  *
  * {{{
  * perfbench.Harness --workload log-pipeline|query-floor
  *   --seed N --seconds S --trace 0|1 --setup-reps K --out DIR
  *   --data DIR                 (the workload's inputs)
  *   [--queries q1,q2,...]      (query workloads)
  *   [--expect-lines N]         (log-pipeline)
  * }}}
  *
  * Output in DIR: `samples.jsonl` (one line per timed operation),
  * `meta.json` (set-up times, provenance, run-level counts) and, for the
  * query workloads, `results/<query>` parquet plus `results/oracle_sql.json`
  * for the DuckDB oracle compare.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opt("out")); out.mkdirs()
    val cfg = Config(opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt("setup-reps").toInt, out, opt("data"))
    val wl: Workload =
      if (opt("workload") == "log-pipeline")
        new LogPipeline(opt("expect-lines").toLong)
      else new Queries(opt("queries").split(",").toSeq)
    run(cfg, wl)
  }

  case class Config(seed: Long, seconds: Double, trace: Boolean, setupReps: Int,
                    out: File, data: String)

  /** One operation's record: name, timed span and outcome, plus whatever
    * the workload or the tracer adds. */
  final class Sample(val name: String, val pass: Int) {
    /** The timed span; an operation that runs an untimed probe first sets
      * it itself, otherwise the harness times the whole call. */
    var ms: Double = Double.NaN
    val fields = mutable.LinkedHashMap.empty[String, Any]
  }

  trait Workload {
    /** The operations of one pass. */
    def names: Seq[String]
    /** One pass's operations in the order they should run. */
    def pass(rnd: scala.util.Random): Seq[String] = rnd.shuffle(names)
    /** Run `name` once on `dir`, fill `s`, and return whether the result
      * passed the operation's own checks. `probe` asks for the layer split. */
    def op(spark: SparkSession, name: String, dir: String, s: Sample, probe: Boolean): Boolean
    /** Untimed post-window work (result dumps for the oracle compare). */
    def finish(spark: SparkSession, cfg: Config, meta: mutable.LinkedHashMap[String, Any]): Unit = ()
  }

  /** Run one operation and record `ok` (its checks passed) and `completed`
    * (it returned a result, right or wrong); a throw fails both. */
  private def attempt(wl: Workload, spark: SparkSession, name: String, dir: String,
                      s: Sample, probe: Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok =
      try { val ok = wl.op(spark, name, dir, s, probe); s.fields("completed") = true; ok }
      catch { case e: Throwable =>
        s.fields("completed") = false
        s.fields("error") = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(2).mkString(" ").take(300)
        false
      }
    if (s.ms.isNaN) s.ms = (System.nanoTime() - t0) / 1e6
    s.fields("ok") = ok
    ok
  }

  def run(cfg: Config, wl: Workload): Unit = {
    val meta = mutable.LinkedHashMap.empty[String, Any]
    // ---- set-up, repeated: session build + one warm pass over the inputs,
    // which also lets the JIT and the codegen cache settle before timing.
    // Every rep but the last stops its session, so each rep pays the build.
    val setupS = ArrayBuffer.empty[Double]
    val buildS = ArrayBuffer.empty[Double]
    val warmFailures = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    for (rep <- 1 to cfg.setupReps) {
      val t0 = System.nanoTime()
      spark = GraftSession.builder("perfbench").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      wl.pass(new scala.util.Random(cfg.seed)).foreach { name =>
        val s = new Sample(name, -1)
        if (!attempt(wl, spark, name, cfg.data, s, probe = false))
          warmFailures += s"$name (rep $rep): ${s.fields.getOrElse("error", "check failed")}"
        hygiene(spark)
      }
      val t2 = System.nanoTime()
      buildS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      note(f"set-up $rep: session ${(t1 - t0) / 1e9}%.2f s, warm pass ${(t2 - t1) / 1e9}%.2f s")
      if (rep < cfg.setupReps) spark.stop()
    }
    meta("setup_s") = setupS.toSeq
    meta("session_build_s") = buildS.toSeq
    meta("warm_failures") = warmFailures.toSeq

    // ---- measured window: whole passes, closed loop, seed-shuffled order.
    // A traced run traces each operation on every other pass, and makes at
    // least two passes, so every operation has traced and untraced samples.
    val tracer = new Tracer(spark)
    val index = wl.names.zipWithIndex.toMap
    val rnd = new scala.util.Random(cfg.seed)
    val samples = ArrayBuffer.empty[Sample]
    val w0 = System.nanoTime()
    var gcNs = 0L
    def elapsedS = (System.nanoTime() - w0 - gcNs) / 1e9
    var pass = 0
    while (elapsedS < cfg.seconds || (cfg.trace && pass < 2)) {
      wl.pass(rnd).foreach { name =>
        val s = new Sample(name, pass)
        val traced = cfg.trace && (pass + index(name)) % 2 == 0
        if (traced) tracer.begin()
        // layer probes run on the untraced samples, so the tracer's counters
        // cover the operation alone
        attempt(wl, spark, name, cfg.data, s, probe = cfg.trace && !traced)
        s.fields("traced") = traced
        if (traced) tracer.end(s)
        samples += s
        hygiene(spark)
      }
      // between passes, and not counted in the window, so heap debt does
      // not carry across passes
      val g = System.nanoTime(); System.gc(); gcNs += System.nanoTime() - g
      pass += 1
      note(f"pass $pass done at $elapsedS%.2f s")
    }
    meta("window_s") = elapsedS
    meta("passes") = pass

    val f0 = System.nanoTime()
    wl.finish(spark, cfg, meta)
    note(f"finish ${(System.nanoTime() - f0) / 1e9}%.2f s")
    meta("spark_version") = spark.version
    meta("cores") = spark.sparkContext.defaultParallelism
    meta("jvm_args") = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.mkString(" ")
    meta("peak_rss_mb") = peakRssMb()
    spark.stop()

    val pw = new PrintWriter(new File(cfg.out, "samples.jsonl"), "UTF-8")
    try samples.foreach(s => pw.println(json.writeValueAsString(
      mutable.LinkedHashMap[String, Any]("name" -> s.name, "pass" -> s.pass, "ms" -> s.ms) ++ s.fields)))
    finally pw.close()
    Files.writeString(Paths.get(cfg.out.getPath, "meta.json"), json.writeValueAsString(meta))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val t00 = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[harness ${(System.nanoTime() - t00) / 1e9}%7.2f] $msg")

  /** Between operations, outside every timed span: drop leaked caches so
    * one operation's cached data does not serve or burden the next. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return 0.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  // ---------------------------------------------------------------------

  /** The paper's pipeline (q47's chain) over a container-log directory:
    * scan → clean → mine → restore → match → failure distribution. */
  final class LogPipeline(expectLines: Long) extends Workload {
    private var clusters = -1L
    val names: Seq[String] = Seq("log_pipeline")

    def op(spark: SparkSession, name: String, dir: String, s: Sample, probe: Boolean): Boolean = {
      val warm = s.pass < 0
      val cleaned = LogSource.readLogDir(spark, dir)
        .select(LogLines.clean(col("value")).as("line"))
      if (probe) {
        // the scan+clean span on its own (noop write: count() would let
        // Catalyst prune the clean projection); kept out of the op's time
        val t = System.nanoTime()
        cleaned.write.mode("overwrite").format("noop").save()
        s.fields("scan_clean_ms") = (System.nanoTime() - t) / 1e6
        s.fields("partition_trees") = cleaned.rdd.getNumPartitions
      }
      val t0 = System.nanoTime()
      val templates = TemplateMining.mineParallel(cleaned, "line").collect().toSeq
      val t1 = System.nanoTime()
      val tree = TemplateMining.treeFromTemplates(templates)
      val t2 = System.nanoTime()
      // the result is the small per-event table; collecting it materialises
      // every row of the plan and gives the values the checks need
      val counts = EventMatrix.failureDistribution(
        TemplateMining.matchLines(cleaned, "line", tree), "eventId").collect()
      val t3 = System.nanoTime()
      s.ms = (t3 - t0) / 1e6
      if (probe) {
        s.fields("mine_ms") = (t1 - t0) / 1e6
        s.fields("restore_ms") = (t2 - t1) / 1e6
        s.fields("match_ms") = (t3 - t2) / 1e6
      }
      val scanned = counts.map(_.getLong(1)).sum
      val unmatched = counts.filter(_.isNullAt(0)).map(_.getLong(1)).sum
      val mass = templates.map(_.size).sum
      s.fields("lines") = scanned
      s.fields("unmatched") = unmatched
      s.fields("clusters") = templates.size.toLong
      val checks = Seq(
        "lines scanned != lines generated" -> (scanned == expectLines),
        "cluster mass != lines scanned" -> (mass == scanned),
        "unmatched lines" -> (unmatched == 0L),
        "cluster count changed between passes" -> (warm || clusters < 0 || clusters == templates.size))
      if (!warm && clusters < 0) clusters = templates.size
      val failed = checks.collect { case (what, false) => what }
      if (failed.nonEmpty) s.fields("error") = failed.mkString("; ")
      failed.isEmpty
    }
  }

  /** A fixed list of `SparkEntry` queries, each materialised with a noop
    * write; results are dumped once after the window for the oracle. */
  final class Queries(val names: Seq[String]) extends Workload {
    private val fns = {
      val all = SparkEntry.queries
      names.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n"))).toMap
    }
    def op(spark: SparkSession, name: String, dir: String, s: Sample, probe: Boolean): Boolean = {
      val df = fns(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      // the query's own analysis ran eagerly when the DataFrame was built,
      // outside the write that the planning listener sees
      if (probe) s.fields("analysis_ms") =
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      true
    }

    override def finish(spark: SparkSession, cfg: Config,
                        meta: mutable.LinkedHashMap[String, Any]): Unit = {
      val res = new File(cfg.out, "results"); res.mkdirs()
      val errors = mutable.LinkedHashMap.empty[String, Any]
      names.foreach { n =>
        try fns(n)(spark, cfg.data).write.mode("overwrite").parquet(new File(res, n).getPath)
        catch { case e: Throwable => errors(n) = String.valueOf(e.getMessage).take(300) }
        hygiene(spark)
      }
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(res.getPath, "oracle_sql.json"),
        json.writeValueAsString(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
      meta("dump_errors") = errors
    }
  }
}
