package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.checks._
import graft.config.JobConfig
import graft.jobs.{CheckSpec, DqBatchJob, ExpressionCheckSpec, JobResult}
import graft.metrics._
import graft.sources.{Source, SourceReaders}
import graft.storage.ParquetDqStorage

/** The Checkita-shaped DQ job of the dq_batch workload. Everything but the
  * trend metric and the check on it comes from one JSON job config; the
  * config format has no trend metrics, so those two are added in code. */
object Dq {

  val SourceId = "lineitem"
  val KeyFields = Seq("l_orderkey", "l_linenumber")
  val TrendId = "trend_row_count"
  val ErrorDumpSize = 100

  /** (id, name, columns, params) of every regular metric. */
  val metricSpecs: Seq[(String, String, Seq[String], Map[String, String])] = Seq(
    ("row_count", "ROW_COUNT", Nil, Map()),
    ("null_mode_flag", "NULL_VALUES", Seq("l_shipmode", "l_returnflag"), Map()),
    ("empty_instruct_comment", "EMPTY_VALUES", Seq("l_shipinstruct", "l_comment"), Map()),
    ("complete_comment", "COMPLETENESS", Seq("l_comment"), Map()),
    ("regex_shipmode", "REGEX_MATCH", Seq("l_shipmode"), Map("regex" -> "^[A-Z]+( [A-Z]+)?$")),
    ("casted_price", "CASTED_NUMBER", Seq("l_price_str"), Map()),
    ("min_comment_len", "MIN_STRING", Seq("l_comment"), Map()),
    ("max_comment_len", "MAX_STRING", Seq("l_comment"), Map()),
    ("avg_comment_len", "AVG_STRING", Seq("l_comment"), Map()),
    ("flag_domain", "STRING_IN_DOMAIN", Seq("l_returnflag"), Map("domain" -> "A,N,R")),
    ("shipdate_ok", "FORMATTED_DATE", Seq("l_shipdate"), Map("format" -> "yyyy-MM-dd")),
    ("min_qty", "MIN_NUMBER", Seq("l_quantity"), Map()),
    ("max_price", "MAX_NUMBER", Seq("l_extendedprice"), Map()),
    ("sum_qty", "SUM_NUMBER", Seq("l_quantity"), Map()),
    ("avg_price", "AVG_NUMBER", Seq("l_extendedprice"), Map()),
    ("std_price", "STD_NUMBER", Seq("l_extendedprice"), Map()),
    ("median_price", "MEDIAN_VALUE", Seq("l_extendedprice"), Map()),
    ("top_shipmode", "TOP_N", Seq("l_shipmode"), Map("targetNumber" -> "5")),
    ("approx_orders", "APPROXIMATE_DISTINCT_VALUES", Seq("l_orderkey"), Map("accuracyError" -> "0.01")),
    ("discount_between", "NUMBER_BETWEEN", Seq("l_discount"), Map("lower" -> "0.0", "upper" -> "0.08")),
    ("distinct_flags", "DISTINCT_VALUES", Seq("l_returnflag", "l_linestatus"), Map()),
    ("dup_lines", "DUPLICATE_VALUES", Seq("l_orderkey", "l_linenumber"), Map()))

  val composed: Seq[(String, String)] = Seq(
    ("null_share", "{{null_mode_flag}} / {{row_count}}"),
    ("bad_price_share", "1 - {{casted_price}} / {{row_count}}"))

  /** (id, kind, base, compareMetric, threshold, formula, critical). */
  val checkSpecs: Seq[(String, String, String, Option[String], Option[Double], Option[String], Boolean)] = Seq(
    ("rows_exact", "EQUAL_TO", "row_count", None, Some(Inputs.DqRows.toDouble), None, true),
    ("few_nulls", "LESS_THAN", "null_mode_flag", None, Some(4000.0), None, false),
    ("prices_cast", "GREATER_THAN", "casted_price", None, Some(0.99 * Inputs.DqRows), None, false),
    ("dates_vs_rows", "DIFFER_BY_LT", "shipdate_ok", Some("row_count"), Some(0.01), None, false),
    ("null_share_low", "EXPRESSION", "", None, None, Some("{{null_share}} < 0.005"), false),
    ("modes_vs_flags", "EXPRESSION", "", None, None,
      Some("{{regex_shipmode}} > {{flag_domain}} || {{dup_lines}} == 0"), false))

  val trendCheck = DifferByLtCheck("rows_vs_trend", "row_count", TrendId, 0.05)

  def configJson(table: String, storage: String): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
    val metrics = metricSpecs.map { case (id, name, cols, params) =>
      s"""{"id":${q(id)},"name":${q(name)},"source":"$SourceId","columns":${arr(cols)},""" +
        s""""params":{${params.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}}}"""
    }
    val checks = checkSpecs.map { case (id, kind, base, cmp, th, f, crit) =>
      (Seq(s""""id":${q(id)}""", s""""kind":${q(kind)}""", s""""base":${q(base)}""",
        s""""critical":$crit""") ++ cmp.map(c => s""""compareMetric":${q(c)}""") ++
        th.map(t => s""""threshold":$t""") ++ f.map(x => s""""formula":${q(x)}"""))
        .mkString("{", ",", "}")
    }
    s"""{"jobId":"${Inputs.DqJobId}",
       |"sources":[{"id":"$SourceId","kind":"parquet","path":${q(table)},"keyFields":${arr(KeyFields)}}],
       |"loadChecks":[{"id":"columns_16","kind":"EXACT_COLUMN_NUM","count":16},
       |  {"id":"keys_exist","kind":"COLUMNS_EXIST","columns":${arr(KeyFields :+ "l_comment")}}],
       |"metrics":[${metrics.mkString(",\n")}],
       |"composedMetrics":[${composed.map { case (id, f) => s"""{"id":${q(id)},"formula":${q(f)}}""" }.mkString(",")}],
       |"checks":[${checks.mkString(",\n")}],
       |"storage":{"kind":"parquet","location":${q(storage)}},
       |"tolerance":"critical",
       |"errorDumpSize":$ErrorDumpSize}""".stripMargin
  }

  private def snapshotCheck(c: JobConfig.CheckConf): Either[CheckSpec, ExpressionCheckSpec] =
    c.kind match {
      case "EQUAL_TO" => Left(CheckSpec(EqualToCheck(c.id, c.base, c.compareMetric, c.threshold), c.critical))
      case "LESS_THAN" => Left(CheckSpec(LessThanCheck(c.id, c.base, c.compareMetric, c.threshold), c.critical))
      case "GREATER_THAN" => Left(CheckSpec(GreaterThanCheck(c.id, c.base, c.compareMetric, c.threshold), c.critical))
      case "DIFFER_BY_LT" =>
        Left(CheckSpec(DifferByLtCheck(c.id, c.base, c.compareMetric.get, c.threshold.get), c.critical))
      case "EXPRESSION" => Right(ExpressionCheckSpec(ExpressionCheck(c.id, c.formula.get), c.critical))
    }

  /** The parts of a parsed, validated config the job is assembled from. */
  final case class Parts(conf: JobConfig.Conf, source: Source,
      rowMetrics: Seq[RowMetric], groupingMetrics: Seq[GroupingMetric])

  def parse(spark: SparkSession, table: String, storage: String): Parts = {
    val conf = JobConfig.parse(configJson(table, storage))
    val errs = JobConfig.validate(conf)
    require(errs.isEmpty, errs.mkString("; "))
    val src = SourceReaders.parquet(spark, SourceId, table).copy(keyFields = KeyFields)
    val ms = conf.metrics.map(JobConfig.metric)
    Parts(conf, src, ms.collect { case Left(m) => m }, ms.collect { case Right(m) => m })
  }

  private def checks(p: Parts): (Seq[CheckSpec], Seq[ExpressionCheckSpec]) = {
    val cs = p.conf.checks.map(snapshotCheck)
    (cs.collect { case Left(c) => c } :+ CheckSpec(trendCheck), cs.collect { case Right(c) => c })
  }

  /** The job's snapshot, trend and expression checks over given results. */
  def evalChecks(p: Parts, results: Seq[MetricResult]): Seq[CheckResult] = {
    val (snap, expr) = checks(p)
    snap.map(_.check.run(results)) ++ expr.map(_.check.run(results))
  }

  def job(spark: SparkSession, p: Parts, storage: String): DqBatchJob = {
    val (snap, expr) = checks(p)
    new DqBatchJob(spark, p.conf.jobId, Seq(p.source),
      loadChecks = Seq(
        s => LoadChecks.exactColumnNum("columns_16", s.df, 16),
        s => LoadChecks.columnsExist("keys_exist", s.df, KeyFields :+ "l_comment")),
      rowMetrics = Map(SourceId -> p.rowMetrics),
      groupingMetrics = Map(SourceId -> p.groupingMetrics),
      composedMetrics = p.conf.composed.map(c => ComposedMetric(c.id, c.formula)),
      trendMetrics = Seq(("row_count", TrendMetrics.Descriptive(TrendMetrics.Descriptive.Stat.Avg),
        TrendMetrics.ByRecords(5))),
      checks = snap,
      expressionChecks = expr,
      storage = Some(new ParquetDqStorage(spark, storage)),
      tolerance = p.conf.tolerance,
      errorDumpSize = p.conf.errorDumpSize,
      jobState = p.conf.rawJson)
  }

  /** The timed operation: parse and validate the config, assemble and run
    * the job, persist every result to storage. */
  def op(spark: SparkSession, table: String, storage: String): JobResult =
    job(spark, parse(spark, table, storage), storage).run(Inputs.DqReferenceTs)

  /** Reading back from storage must return what the job returned. */
  def checkReadback(spark: SparkSession, storage: String, r: JobResult): Seq[String] = {
    val ts = java.sql.Timestamp.from(Inputs.DqReferenceTs)
    val stored = spark.read.parquet(s"$storage/results_metrics")
      .filter(col("job_id") === Inputs.DqJobId && col("reference_ts") === lit(ts))
      .select("metric_id", "result").collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val storedChecks = spark.read.parquet(s"$storage/results_checks")
      .filter(col("job_id") === Inputs.DqJobId && col("reference_ts") === lit(ts))
      .select("check_id", "status").collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val errs = Seq.newBuilder[String]
    if (stored.size != r.metrics.size) errs += s"stored ${stored.size} metric rows, job returned ${r.metrics.size}"
    r.metrics.foreach { m =>
      stored.get(m.metricId) match {
        case Some(v) if v == m.value || (v.isNaN && m.value.isNaN) =>
        case other => errs += s"stored ${m.metricId} = $other, job returned ${m.value}"
      }
    }
    (r.loadChecks ++ r.checks.map(_._1)).foreach { c =>
      val want = if (c.status) "Success" else "Failure"
      if (!storedChecks.get(c.checkId).contains(want))
        errs += s"stored check ${c.checkId} = ${storedChecks.get(c.checkId)}, job returned $want"
    }
    errs.result()
  }

  def resultJson(r: JobResult): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = r.metrics.map(m => s""""${m.metricId}":{"value":${num(m.value)},"errors":${m.errors.size}}""")
    val cs = (r.loadChecks ++ r.checks.map(_._1)).map(c => s""""${c.checkId}":${c.status}""")
    s"""{"passed":${r.passed},"metrics":{${ms.mkString(",")}},"checks":{${cs.mkString(",")}}}"""
  }
}
