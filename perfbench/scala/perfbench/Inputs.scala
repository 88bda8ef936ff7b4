package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.corpus.{CorpusGen, CorpusSpec, ReferenceOracle}
import graft.pipeline.FilterConfig

/** Seeded inputs of the filter workloads, written once per seed under
  * `<data>/seed-<n>/` and reused by every run with that seed (the dq_batch
  * inputs are written by perfbench/dq.py). Sizes are fixed here so a run's
  * work depends on the seed only through the generated content. */
object Inputs {

  /** quality_filter: ~20% of the files in one mega-repo, the rest spread
    * over 7 orgs x 40 repos; 5% belong to near-dup groups. */
  val QfFiles = 4000L
  /** quality_filter_dedup: smaller, because the dedup stage runs many small
    * stages whose fixed cost, not the file count, sets its time. */
  val QfdFiles = 2000L
  val DqRows = 300000L
  /** Files each input is split into. */
  val FileCount = 8
  /** Reference timestamp of the measured DQ run; the seeded history
    * (perfbench/dq.py) lies in the days before it. */
  val DqReferenceTs: Instant = Instant.parse("2026-01-15T00:00:00Z")
  val DqJobId = "perfbench_dq"

  val filterCfg: FilterConfig = FilterConfig()

  def qfSpec(seed: Long): CorpusSpec = CorpusSpec(seed = seed, nFiles = QfFiles)
  def qfdSpec(seed: Long): CorpusSpec = CorpusSpec(seed = seed, nFiles = QfdFiles)

  def seedDir(data: String, seed: Long): Path = Paths.get(data, s"seed-$seed")

  /** Writes the workload's inputs (and the cached expected labels) unless
    * they are already complete; a `_COMPLETE` marker makes the write
    * atomic with respect to an interrupted preparation. */
  def prepare(spark: SparkSession, workload: String, data: String, seed: Long): Unit = {
    val dir = seedDir(data, seed).resolve(workload)
    if (Files.exists(dir.resolve("_COMPLETE"))) return
    deleteTree(dir)
    Files.createDirectories(dir)
    workload match {
      case "quality_filter" => writeCorpus(spark, qfSpec(seed), dir, truthPairs = false)
      case "quality_filter_dedup" => writeCorpus(spark, qfdSpec(seed), dir, truthPairs = true)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Files.createFile(dir.resolve("_COMPLETE"))
  }

  /** Corpus split into [[FileCount]] parquet files, plus the reference oracle's
    * per-file label of every generated row (computed on the generator's
    * row, not on anything the program wrote) and, for the dedup corpus, every
    * pair of per-file-kept files whose exact word-3gram Jaccard reaches the
    * threshold. */
  def writeCorpus(spark: SparkSession, spec: CorpusSpec, dir: Path,
      truthPairs: Boolean): Unit = {
    import spark.implicits._
    CorpusGen.corpus(spark, spec).repartition(FileCount)
      .write.parquet(dir.resolve("corpus").toString)
    val cfg = filterCfg
    spark.range(spec.nFiles).repartition(16).as[Long].map { i =>
      val l = ReferenceOracle.label(CorpusGen.fileAt(spec, i), cfg)
      Expected(l.repo, l.path, l.keep, l.dropReasons, l.lang, l.conf, l.ppl,
        l.scrubbed.map(ReferenceOracle.sha256Hex), l.contentSha256)
    }.repartition(1).write.parquet(dir.resolve("expected").toString)
    if (truthPairs) FilterCheck.writeTruthPairs(spark, spec, dir)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val t = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x)).mapToLong(x => Files.size(x)).sum()
      finally s.close()
    }
}

/** The reference oracle's label of one generated file, as cached beside the
  * inputs. `scrubbedSha` is the sha256 of the oracle's scrubbed text. */
final case class Expected(
    repo: String,
    path: String,
    keep: Boolean,
    dropReasons: Seq[String],
    lang: String,
    conf: Double,
    ppl: Double,
    scrubbedSha: Option[String],
    contentSha256: String)
