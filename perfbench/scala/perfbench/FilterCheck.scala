package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusGen, CorpusSpec, ReferenceOracle}

/** One verdict row as the program stored it. */
final case class Verdict(
    repo: String,
    path: String,
    keep: Boolean,
    dropReasons: Seq[String],
    lang: String,
    conf: Double,
    ppl: Double,
    scrubbed: Option[String],
    contentSha256: String,
    partitionId: Int) {
  def key: String = s"$repo|$path"
}

/** One per-partition lineage row. */
final case class Lineage(partitionId: Int, rowsIn: Long, rowsKept: Long,
    dropCounts: Map[String, Long])

/** A pair of per-file-kept files of the dedup corpus with exact word-3gram
  * Jaccard >= the threshold (keys are `repo|path`, a < b). */
final case class TruthPair(a: String, b: String, jaccard: Double)

/** Correctness checks of the filter workloads, computed apart from the
  * program: per-file fields against the reference oracle's labels of the
  * generator's rows, lineage against the verdict table, and near-dup
  * decisions against exact Jaccard computed here. Each check returns the
  * list of violations; empty means the output is correct. */
object FilterCheck {

  /** Relative tolerance for language confidence and perplexity: the program
    * and the oracle run the same model through different code, so the last
    * bits of a double may differ. */
  val ScoreTol = 1e-9

  def readVerdicts(spark: SparkSession, store: String): Seq[Verdict] =
    spark.read.parquet(s"$store/verdicts").collect().toSeq.map { r =>
      Verdict(r.getAs[String]("repo"), r.getAs[String]("path"), r.getAs[Boolean]("keep"),
        r.getAs[scala.collection.Seq[String]]("drop_reasons").toSeq,
        r.getAs[String]("lang_pred"), r.getAs[Double]("lang_conf"), r.getAs[Double]("kn_ppl"),
        Option(r.getAs[String]("scrubbed_content")), r.getAs[String]("content_sha256"),
        r.getAs[Int]("partition_id"))
    }

  def readLineage(spark: SparkSession, store: String, jobId: String): Seq[Lineage] =
    spark.read.parquet(s"$store/lineage")
      .filter(col("job_id") === jobId && col("stage") === "verdict")
      .collect().toSeq.map { r =>
        Lineage(r.getAs[Int]("partition_id"), r.getAs[Long]("rows_in"), r.getAs[Long]("rows_kept"),
          r.getAs[scala.collection.Map[String, Long]]("drop_counts").toMap)
      }

  def readExpected(spark: SparkSession, dir: Path): Map[(String, String), Expected] = {
    import spark.implicits._
    spark.read.parquet(dir.resolve("expected").toString).as[Expected].collect()
      .map(e => (e.repo, e.path) -> e).toMap
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= ScoreTol * math.max(1.0, math.abs(b))

  /** Every stored verdict against the oracle's label. `nearDup` holds the
    * keys the dedup stage dropped; their expected label is the per-file one
    * plus the reason "near_dup", with no scrubbed text. */
  def checkVerdicts(got: Seq[Verdict], expected: Map[(String, String), Expected],
      nearDup: Set[String] = Set.empty): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val byKey = got.groupBy(v => (v.repo, v.path))
    if (got.size != expected.size) errs += s"verdict rows ${got.size} != ${expected.size} input files"
    byKey.collect { case (k, vs) if vs.size > 1 => errs += s"$k stored ${vs.size} times" }
    expected.values.foreach { e =>
      byKey.get((e.repo, e.path)).map(_.head) match {
        case None => errs += s"${e.repo}/${e.path}: no verdict"
        case Some(v) =>
          val dup = nearDup(v.key)
          val keep = e.keep && !dup
          val reasons = if (dup) e.dropReasons :+ "near_dup" else e.dropReasons
          val scrubbedSha = if (keep) e.scrubbedSha else None
          def bad(what: String) = errs += s"${e.repo}/${e.path}: $what"
          if (v.keep != keep) bad(s"keep ${v.keep} != $keep")
          if (v.dropReasons != reasons) bad(s"drop_reasons ${v.dropReasons} != $reasons")
          if (v.lang != e.lang) bad(s"lang ${v.lang} != ${e.lang}")
          if (!close(v.conf, e.conf)) bad(s"lang_conf ${v.conf} != ${e.conf}")
          if (!close(v.ppl, e.ppl)) bad(s"kn_ppl ${v.ppl} != ${e.ppl}")
          if (v.scrubbed.map(ReferenceOracle.sha256Hex) != scrubbedSha) bad("scrubbed text differs")
          if (v.contentSha256 != e.contentSha256) bad("content_sha256 differs")
      }
    }
    errs.toSeq
  }

  /** Per-partition lineage must add up to the verdict table. */
  def checkLineage(got: Seq[Verdict], lineage: Seq[Lineage]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val byPid = got.groupBy(_.partitionId)
    val linByPid = lineage.groupBy(_.partitionId)
    if (linByPid.keySet != byPid.keySet)
      errs += s"lineage partitions ${linByPid.keySet.size} != verdict partitions ${byPid.keySet.size}"
    linByPid.foreach { case (pid, ls) =>
      val vs = byPid.getOrElse(pid, Nil)
      if (ls.size != 1) errs += s"partition $pid has ${ls.size} lineage rows"
      val l = ls.head
      if (l.rowsIn != vs.size) errs += s"partition $pid rows_in ${l.rowsIn} != ${vs.size}"
      if (l.rowsKept != vs.count(_.keep)) errs += s"partition $pid rows_kept ${l.rowsKept} != ${vs.count(_.keep)}"
      l.dropCounts.foreach { case (reason, n) =>
        val want = vs.count(_.dropReasons.contains(reason))
        if (n != want) errs += s"partition $pid drop_counts($reason) $n != $want"
      }
    }
    if (lineage.map(_.rowsIn).sum != got.size)
      errs += s"lineage rows_in sum ${lineage.map(_.rowsIn).sum} != ${got.size}"
    errs.toSeq
  }

  // ---- near-dup truth ------------------------------------------------------

  /** Word 3-grams over single-space splits, the shingling the program's
    * dedup stage and the reference oracle both define. */
  def shingles(content: String): Set[String] = {
    val w = content.split(" ", -1)
    (0 until math.max(w.length - 2, 1)).map(i => w.slice(i, math.min(i + 3, w.length)).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = if (a.size < b.size) a.count(b) else b.count(a)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** All pairs with Jaccard >= tau by prefix filtering: shingles are ordered
    * by ascending document frequency and two sets can reach tau only if
    * they share one of their first |s| - ceil(tau |s|) + 1 shingles, so the
    * candidate set is lossless; every candidate is then verified exactly. */
  def allPairs(docs: Seq[(String, Set[String])], tau: Double): Seq[TruthPair] = {
    val df = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    docs.foreach(_._2.foreach(s => df(s) += 1))
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val out = mutable.ArrayBuffer.empty[TruthPair]
    docs.zipWithIndex.foreach { case ((key, sh), i) =>
      val prefixLen = sh.size - math.ceil(tau * sh.size - 1e-9).toInt + 1
      val prefix = sh.toSeq.sortBy(s => (df(s), s)).take(prefixLen)
      val cands = mutable.HashSet.empty[Int]
      prefix.foreach(s => index.get(s).foreach(cands ++= _))
      cands.foreach { j =>
        val jac = jaccard(sh, docs(j)._2)
        if (jac >= tau) {
          val (a, b) = if (key < docs(j)._1) (key, docs(j)._1) else (docs(j)._1, key)
          out += TruthPair(a, b, jac)
        }
      }
      prefix.foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i)
    }
    out.toSeq
  }

  /** Truth pairs over the per-file-kept files of the corpus (the dedup
    * stage's input), cached beside the inputs. */
  def writeTruthPairs(spark: SparkSession, spec: CorpusSpec, dir: Path): Unit = {
    import spark.implicits._
    val exp = readExpected(spark, dir)
    val kept = (0L until spec.nFiles).iterator.map(CorpusGen.fileAt(spec, _))
      .filter(r => exp((r.repo, r.path)).keep)
      .map(r => (s"${r.repo}|${r.path}", shingles(r.content))).toSeq
    allPairs(kept, Inputs.filterCfg.dedupTau).toDS().repartition(1)
      .write.parquet(dir.resolve("truth_pairs").toString)
  }

  def readTruthPairs(spark: SparkSession, dir: Path): Seq[TruthPair] = {
    import spark.implicits._
    spark.read.parquet(dir.resolve("truth_pairs").toString).as[TruthPair].collect().toSeq
  }

  /** Near-dup decisions against the truth pairs.
    *
    * Precision is exact: every file dropped as "near_dup" must reach, through
    * pairs of Jaccard >= tau, a kept file whose key is smaller than its own.
    *
    * Recall has a floor. A file the truth drops (a member other than the
    * smallest of a connected component of the truth pairs) can be kept only
    * if LSH loses a pair of its component. A pair of Jaccard s is lost with
    * probability at most (1 - s^r)^b (no shared band) plus the chance that
    * the 64-minhash estimate filter reads it below tau - 0.22. Summed over a
    * component's pairs that bounds the miss probability q of each of its
    * files. A kept file with q < 1e-6 is a violation (a run has ~100 such
    * files, so a correct program trips this with probability < 1e-4); the
    * number of kept files may not exceed the count whose Poisson tail, at
    * the expected number of misses, is below 1e-6. */
  def checkNearDup(got: Seq[Verdict], truth: Seq[TruthPair], bands: Int, rows: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val kept = got.filter(_.keep).map(_.key).toSet
    val dropped = got.filter(_.dropReasons.contains("near_dup")).map(_.key).toSet
    val adj = mutable.HashMap.empty[String, List[String]].withDefaultValue(Nil)
    truth.foreach { p => adj(p.a) = p.b :: adj(p.a); adj(p.b) = p.a :: adj(p.b) }
    def component(k: String): Set[String] = {
      val seen = mutable.HashSet(k)
      var frontier = List(k)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj).filterNot(seen).distinct
        seen ++= next
        frontier = next
      }
      seen.toSet
    }
    dropped.foreach { d =>
      if (!component(d).exists(k => k < d && kept(k)))
        errs += s"$d dropped as near_dup without a kept, smaller member at Jaccard >= tau"
    }
    val comps = truth.flatMap(p => Seq(p.a, p.b)).distinct.map(component).distinct
    var mu = 0.0
    var missed = 0
    comps.foreach { c =>
      val q = truth.filter(p => c(p.a)).map(p => pairMiss(p.jaccard, bands, rows)).sum
      mu += q * (c.size - 1)
      c.toSeq.sorted.tail.filterNot(dropped).foreach { k =>
        missed += 1
        if (q < 1e-6) errs += s"$k kept, but its near-dup group cannot lose a pair (q = $q)"
      }
    }
    val allowed = poissonQuantile(mu, 1e-6)
    if (missed > allowed)
      errs += s"near-dup recall: $missed files kept that the truth drops (floor allows $allowed)"
    errs.toSeq
  }

  /** Upper bound on the probability that LSH loses a pair of Jaccard s. */
  def pairMiss(s: Double, bands: Int, rows: Int): Double = {
    val noBand = math.pow(1 - math.pow(s, rows), bands)
    // estimate filter: drop when agreeing minhashes / 64 < tau - 0.22
    val k = 64
    val cut = math.ceil(k * (Inputs.filterCfg.dedupTau - 0.22) - 1e-9).toInt
    val filtered = (0 until cut).map(i => binomPmf(k, i, s)).sum
    noBand + filtered
  }

  private def binomPmf(n: Int, i: Int, p: Double): Double = {
    def lgamma(x: Double): Double = {
      // Stirling series, accurate to ~1e-10 for x >= 1 after the shift below
      var y = x; var acc = 0.0
      while (y < 7) { acc -= math.log(y); y += 1 }
      acc + (y - 0.5) * math.log(y) - y + 0.5 * math.log(2 * math.Pi) +
        1 / (12 * y) - 1 / (360 * y * y * y)
    }
    if (p >= 1.0) { if (i == n) 1.0 else 0.0 }
    else math.exp(lgamma(n + 1.0) - lgamma(i + 1.0) - lgamma(n - i + 1.0) +
      i * math.log(p) + (n - i) * math.log1p(-p))
  }

  /** Smallest m with P(Poisson(mu) > m) < eps. */
  def poissonQuantile(mu: Double, eps: Double): Int = {
    var m = 0
    var term = math.exp(-mu)
    var cdf = term
    while (1 - cdf >= eps && m < 10000) {
      m += 1
      term *= mu / m
      cdf += term
    }
    m
  }
}
