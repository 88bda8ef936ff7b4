package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.JobResult
import graft.metrics.{MetricProcessor, TrendMetrics}
import graft.operators.Dedup
import graft.pipeline.{ParquetCorpusStore, QualityFilter, ResumableRun, RunReport, Scrub}
import graft.storage.ParquetDqStorage
import graft.textmodel.{DocAnalyzer, LangModel}
import graft.util.CacheScope

/** Entry point of the benchmark JVM.
  *
  * {{{
  * run      workload=<w> seed=<n> seconds=<s> trace=<0|1> data=<dir> work=<dir>
  *          out=<file> tmp=<dir> cores=<n> launch_ns=<epoch ns of the launch>
  * selftest data=<dir> tmp=<dir> cores=<n>
  * }}}
  * `run` writes one JSON object to `out`; `perfbench/run.py` turns it into
  * the benchmark's result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val code =
      try {
        args.head match {
          case "run" => run(o)
          case "selftest" => SelfTest.run(session(o("cores").toInt, o("tmp")), o("data"))
        }
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    // Spark leaves non-daemon threads behind; end the process explicitly.
    sys.exit(code)
  }

  def session(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def epochNs(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  def run(o: Map[String, String]): Unit = {
    val launchNs = o("launch_ns").toLong
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val work = Paths.get(o("work"))
    Inputs.deleteTree(work)
    Files.createDirectories(work)

    // ---- set-up: session, the lazy text models, warm-up ----
    def phase(name: String): Unit = System.err.println(f"perfbench: ${(epochNs() - launchNs) / 1e9}%.3f s $name")
    val spark = session(o("cores").toInt, o("tmp"))
    phase("session")
    LangModel.weights
    LangModel.knLm
    phase("text models")
    // inputs of a new seed are written here, outside the set-up time
    val prepNs = {
      val t = System.nanoTime()
      if (workload != "dq_batch") Inputs.prepare(spark, workload, o("data"), seed)
      System.nanoTime() - t
    }
    phase(f"inputs (${prepNs / 1e9}%.3f s)")
    val inputs = Inputs.seedDir(o("data"), seed).resolve(workload)
    val w: Workload = workload match {
      case "quality_filter" => new FilterWorkload(spark, inputs, dedup = false)
      case "quality_filter_dedup" => new FilterWorkload(spark, inputs, dedup = true)
      case "dq_batch" => new DqWorkload(spark, inputs)
    }
    (0 until w.warmUpOps).foreach { i =>
      val warm = work.resolve(s"warmup-$i")
      w.prepareIter(warm)
      w.op(warm)
      Inputs.deleteTree(warm)
    }
    val setupS = (epochNs() - launchNs - prepNs) / 1e9
    phase("warm-up")

    // ---- measured operations, whole ones, until `seconds` have passed ----
    val tracer = new Tracer
    val listener = if (trace) Some(new EngineListener(spark)) else None
    val engine = mutable.ArrayBuffer.empty[EngineCounters]
    val iters = mutable.ArrayBuffer.empty[(Path, Any, Double)]
    val t0 = System.nanoTime()
    while (iters.size < 3 || System.nanoTime() - t0 < seconds * 1e9) {
      val dir = work.resolve(s"iter-${iters.size}")
      w.prepareIter(dir)
      System.gc()
      val (res, span) = tracer.span("op") {
        listener match {
          case Some(l) => val (r, c) = l.measure(w.op(dir)); engine += c; r
          case None => w.op(dir)
        }
      }
      iters += ((dir, res, span.seconds))
    }
    val rss = peakRssMb()

    // ---- per-layer calls (traced runs only) ----
    val layers: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        val l = tracer.span("layers")(w.layers(tracer, work.resolve("layers")))._1
        val eng = engine.head.asMetrics.indices.map { i =>
          val (name, _, unit) = engine.head.asMetrics(i)
          (name, median(engine.map(_.asMetrics(i)._2).toSeq), unit)
        }
        l ++ eng
      }

    // ---- correctness, outside the timed region ----
    val errors = mutable.ArrayBuffer.empty[String]
    val failedIters = mutable.ArrayBuffer.empty[Int]
    val stored = iters.zipWithIndex.map { case ((dir, res, _), i) =>
      val errs = try w.check(dir, res) catch { case e: Exception => Seq(s"check crashed: $e") }
      if (errs.nonEmpty) { failedIters += i; errors ++= errs.take(10) }
      w.storedBytes(dir).toDouble
    }
    val extra = w.extraJson(iters.map(_._2).toSeq)
    iters.dropRight(1).foreach(i => Inputs.deleteTree(i._1))
    if (trace) Files.writeString(Paths.get(o("out") + ".spans.json"), tracer.toJson)

    val json = new StringBuilder("{")
    json ++= s""""workload":${jstr(workload)},"seed":$seed,"trace":${if (trace) 1 else 0},"""
    json ++= s""""setup_s":${num(setupS)},"op_s":[${iters.map(i => num(i._3)).mkString(",")}],"""
    json ++= s""""rows":${w.rows},"stored_bytes":[${stored.map(num).mkString(",")}],"""
    json ++= s""""peak_rss_mb":${num(rss)},"attempted":${iters.size},"failed_iters":[${failedIters.mkString(",")}],"""
    json ++= s""""last_dir":${jstr(iters.last._1.toString)},"""
    json ++= s""""errors":[${errors.take(20).map(jstr).mkString(",")}],"""
    json ++= s""""layers":{${layers.map { case (n, v, u) => s"${jstr(n)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }.mkString(",")}}"""
    json ++= extra
    json ++= "}\n"
    Files.writeString(Paths.get(o("out")), json.toString)
  }

  /** Runs `f` `reps` times, each in its own span, and returns the median
    * duration in seconds together with the last result. */
  def timed[T](tracer: Tracer, name: String, reps: Int = 3)(f: Int => T): (Double, T) = {
    var last: Option[T] = None
    val ts = (0 until reps).map { i =>
      System.gc()
      val (r, s) = tracer.span(name)(f(i))
      last = Some(r)
      s.seconds
    }
    (median(ts), last.get)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Single-thread throughput of `f` over `docs`, repeated for about a
    * second, in documents per second. */
  def docsPerSecond(tracer: Tracer, name: String, docs: Seq[String])(f: String => Any): Double = {
    var n = 0L
    var sink = 0
    val (_, s) = tracer.span(name) {
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 1e9 || n == 0) {
        docs.foreach { d => sink ^= f(d).hashCode(); n += 1 }
      }
    }
    if (sink == 42) println("") // keeps the results live for the JIT
    n / s.seconds
  }
}

trait Workload {
  /** Input rows (files for the filter workloads) one operation processes. */
  def rows: Long
  /** Operations run before the measured ones. Their number, not their
    * duration, is fixed, so every run measures at the same point of the
    * JVM's warm-up (JIT compilation of Spark's per-job code). */
  def warmUpOps: Int
  def prepareIter(dir: Path): Unit = Files.createDirectories(dir)
  /** The timed operation, writing under `dir`. */
  def op(dir: Path): Any
  def storedBytes(dir: Path): Long
  def check(dir: Path, result: Any): Seq[String]
  /** Each layer's public call, timed from outside: (metric, value, unit). */
  def layers(tracer: Tracer, dir: Path): Seq[(String, Double, String)]
  def extraJson(results: Seq[Any]): String = ""
}

final class FilterWorkload(spark: SparkSession, inputs: Path, dedup: Boolean) extends Workload {
  private val cfg = Inputs.filterCfg
  private val corpus = inputs.resolve("corpus").toString
  private val jobId = "perfbench_qf"
  val rows: Long = spark.read.parquet(corpus).count()
  /** Op times fall by a third over a JVM's first four operations and by a
    * few percent per operation after that; more warm-up does not fit the
    * run budget. */
  val warmUpOps = 3

  private def store(dir: Path) = new ParquetCorpusStore(dir.resolve("store").toString, cfg.saltBuckets)

  /** quality_filter: the job, then a re-launch of the same job id that must
    * skip every partition. quality_filter_dedup: the job with dedup. */
  def op(dir: Path): Any = {
    val input = spark.read.parquet(corpus)
    val st = store(dir)
    if (dedup) ResumableRun.runWithDedup(spark, input, cfg, st, jobId)
    else (ResumableRun.run(spark, input, cfg, st, jobId), ResumableRun.run(spark, input, cfg, st, jobId))
  }

  def storedBytes(dir: Path): Long = Inputs.treeBytes(dir.resolve("store"))

  private lazy val expected = FilterCheck.readExpected(spark, inputs)
  private lazy val truth = FilterCheck.readTruthPairs(spark, inputs)

  def check(dir: Path, result: Any): Seq[String] = {
    val s = dir.resolve("store").toString
    val got = FilterCheck.readVerdicts(spark, s)
    val lineage = FilterCheck.readLineage(spark, s, jobId)
    val errs = mutable.ArrayBuffer.empty[String]
    val first = result match {
      case (r1: RunReport, r2: RunReport) =>
        if (r2.partitionsSkipped != r1.partitionsProcessed || r2.partitionsProcessed != 0 || r2.rowsIn != 0)
          errs += s"re-launch did not skip every partition: $r2 after $r1"
        if (lineage.size != r1.partitionsProcessed)
          errs += s"lineage has ${lineage.size} rows after the re-launch, want ${r1.partitionsProcessed}"
        r1
      case r: RunReport => r
    }
    if (first.rowsIn != rows) errs += s"report rowsIn ${first.rowsIn} != $rows"
    if (first.rowsKept != got.count(_.keep)) errs += s"report rowsKept ${first.rowsKept} != ${got.count(_.keep)}"
    val nearDup = got.filter(_.dropReasons.contains("near_dup")).map(_.key).toSet
    if (!dedup && nearDup.nonEmpty) errs += "near_dup drops without the dedup stage"
    errs ++= FilterCheck.checkVerdicts(got, expected, nearDup)
    errs ++= FilterCheck.checkLineage(got, lineage)
    if (dedup) errs ++= FilterCheck.checkNearDup(got, truth, cfg.dedupBands, cfg.dedupRows)
    errs.toSeq
  }

  /** Every filter layer, on either filter workload's corpus: the scoring
    * and store layers of the per-file job and the layers of the dedup
    * stage (the quality_filter corpus holds near-dup groups too). */
  def layers(tracer: Tracer, dir: Path): Seq[(String, Double, String)] = {
    import Main.{noop, timed}
    val input = spark.read.parquet(corpus)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val docs = input.select("content").limit(2000).collect().map(_.getString(0)).toSeq
    out += (("textmodel.analyze_files_per_s",
      Main.docsPerSecond(tracer, "textmodel.analyze", docs)(DocAnalyzer.analyze), "files/s"))
    out += (("pipeline.scrub_files_per_s",
      Main.docsPerSecond(tracer, "pipeline.scrub", docs)(Scrub.scrubString), "files/s"))
    out += (("pipeline.score_s",
      timed(tracer, "pipeline.score")(_ => noop(QualityFilter.withMetrics(input, cfg)))._1, "s"))
    out += (("pipeline.verdicts_s",
      timed(tracer, "pipeline.verdicts")(_ => noop(QualityFilter.verdicts(input, cfg)))._1, "s"))
    val v = QualityFilter.verdicts(input, cfg).persist()
    v.count()
    val stores = (0 until 3).map(i => store(dir.resolve(s"s$i")))
    out += (("pipeline.store_write_s",
      timed(tracer, "pipeline.store_write")(i => stores(i).writeVerdicts(v))._1, "s"))
    out += (("pipeline.lineage_s", timed(tracer, "pipeline.lineage") { i =>
      stores(i).appendLineage(QualityFilter.partitionLineage(v, jobId)
        .withColumn("execution_ts", current_timestamp()))
    }._1, "s"))
    out += (("pipeline.resume_s",
      timed(tracer, "pipeline.resume")(i => ResumableRun.run(spark, input, cfg, stores(i), jobId))._1, "s"))
    v.unpersist()

    out += (("pipeline.dedup_verdicts_s", timed(tracer, "pipeline.dedup_verdicts") { _ =>
      CacheScope.withScope(spark)(noop(QualityFilter.verdictsWithDedup(input, cfg)))
    }._1, "s"))
    CacheScope.withScope(spark) {
      val kept = QualityFilter.withMetrics(input, cfg).filter(col("keep"))
        .select(concat_ws("|", col("repo"), col("path")).as("key"), col("content")).persist()
      kept.count()
      val (lshS, (pairs, n)) = timed(tracer, "operators.lsh_pairs") { _ =>
        Dedup.minHashLshPairsCounted(kept, "key", "content", n = 3, tau = cfg.dedupTau,
          bands = cfg.dedupBands, rows = cfg.dedupRows)
      }
      out += (("operators.lsh_pairs_s", lshS, "s"))
      out += (("operators.lsh_pairs", n.toDouble, "count"))
      // the pipeline's own 128-bit node ids (QualityFilter.verdictsWithDedup)
      def hid(c: org.apache.spark.sql.Column) = struct(xxhash64(c).as("h1"), xxhash64(c, lit(1L)).as("h2"))
      val hashed = pairs.select(hid(col("a")).as("a"), hid(col("b")).as("b"))
      out += (("operators.cc_s", timed(tracer, "operators.cc") { _ =>
        noop(Dedup.connectedComponentsAuto(hashed, knownEdgeCount = Some(n)))
      }._1, "s"))
    }
    Inputs.deleteTree(dir)
    out.toSeq
  }
}

final class DqWorkload(spark: SparkSession, inputs: Path) extends Workload {
  private val table = inputs.resolve("table").toString
  private val history = inputs.resolve("history")
  val rows: Long = Inputs.DqRows
  /** The third operation of a JVM is still ~15% slower than the ones
    * after it. */
  val warmUpOps = 3

  /** Every operation starts from a fresh copy of the seeded history. */
  override def prepareIter(dir: Path): Unit = {
    Files.createDirectories(dir)
    Inputs.copyTree(history, dir.resolve("storage"))
  }

  def op(dir: Path): Any = Dq.op(spark, table, dir.resolve("storage").toString)

  def storedBytes(dir: Path): Long =
    Inputs.treeBytes(dir.resolve("storage")) - Inputs.treeBytes(history)

  def check(dir: Path, result: Any): Seq[String] =
    Dq.checkReadback(spark, dir.resolve("storage").toString, result.asInstanceOf[JobResult])

  override def extraJson(results: Seq[Any]): String =
    s""","dq_reference_ts":"${Inputs.DqReferenceTs}","dq_results":[""" +
      results.map(r => Dq.resultJson(r.asInstanceOf[JobResult])).mkString(",") + "]"

  def layers(tracer: Tracer, dir: Path): Seq[(String, Double, String)] = {
    import Main.timed
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    Files.createDirectories(dir)
    val storage = dir.resolve("storage").toString
    out += (("config.build_s", timed(tracer, "config.build") { _ =>
      graft.config.JobConfig.build(spark, graft.config.JobConfig.parse(Dq.configJson(table, storage)))
    }._1, "s"))
    val p = Dq.parse(spark, table, storage)
    val df = p.source.df
    val cols = (p.rowMetrics.flatMap(_.columns) ++ p.groupingMetrics.flatMap(_.columns)).distinct
    out += (("sources.scan_s", timed(tracer, "sources.scan")(_ => Main.noop(df.select(cols.map(col): _*)))._1, "s"))
    val mcfg = MetricProcessor.Config(Dq.SourceId, Dq.KeyFields, Dq.ErrorDumpSize)
    val (rowS, rowRes) = timed(tracer, "metrics.row_pass")(_ => MetricProcessor.processRowMetrics(df, p.rowMetrics, mcfg))
    out += (("metrics.row_pass_s", rowS, "s"))
    out += (("metrics.row_pass_noerr_s", timed(tracer, "metrics.row_pass_noerr") { _ =>
      MetricProcessor.rowMetricsFrame(df, p.rowMetrics, mcfg).collect()
    }._1, "s"))
    val (grpS, grpRes) = timed(tracer, "metrics.grouping_pass")(_ => MetricProcessor.processGroupingMetrics(df, p.groupingMetrics, mcfg))
    out += (("metrics.grouping_pass_s", grpS, "s"))
    val hist = new ParquetDqStorage(spark, history.toString)
    val (histS, points) = timed(tracer, "storage.history") { _ =>
      hist.metricHistory(Inputs.DqJobId, "row_count", Inputs.DqReferenceTs)
    }
    out += (("storage.history_s", histS, "s"))
    // composed metrics and every check, on the results above
    val regular = rowRes ++ grpRes
    val (evalS, checks) = timed(tracer, "checks.eval", reps = 5) { _ =>
      val trend = TrendMetrics.compute(Dq.TrendId, TrendMetrics.Descriptive(TrendMetrics.Descriptive.Stat.Avg),
        points, TrendMetrics.ByRecords(5), Inputs.DqReferenceTs)
      val base = regular :+ trend
      val all = base ++ Dq.composed.map { case (id, f) => graft.metrics.ComposedMetric(id, f).compute(base).toOption.get }
      (all, Dq.evalChecks(p, all))
    }
    out += (("checks.eval_s", evalS, "s"))
    val (all, checkResults) = checks
    out += (("storage.persist_s", timed(tracer, "storage.persist") { i =>
      val st = new ParquetDqStorage(spark, dir.resolve(s"persist$i").toString)
      st.saveMetrics(Inputs.DqJobId, Inputs.DqReferenceTs, all)
      st.saveMetricErrors(Inputs.DqJobId, Inputs.DqReferenceTs, all)
      st.saveChecks(Inputs.DqJobId, Inputs.DqReferenceTs, checkResults)
      st.saveJobState(Inputs.DqJobId, Inputs.DqReferenceTs, p.conf.rawJson.get)
    }._1, "s"))
    Inputs.deleteTree(dir)
    out.toSeq
  }
}
