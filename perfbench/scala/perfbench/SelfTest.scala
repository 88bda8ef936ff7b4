package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.corpus.{CorpusGen, CorpusSpec, ReferenceOracle}
import graft.pipeline.{ParquetCorpusStore, ResumableRun}

/** The checker's own test, at a size where the quadratic reference is
  * cheap: the dedup workload's output must equal `labelCorpus` exactly and
  * pass every check, and each planted fault (a flipped verdict, a changed
  * scrubbed byte, a near_dup added, a near_dup removed, a broken lineage
  * count) must make a check fail. Throws on the first violation. */
object SelfTest {

  val Files = 800L

  def run(spark: SparkSession, data: String): Unit = {
    val seed = 7L
    val spec = CorpusSpec(seed = seed, nFiles = Files)
    val dir = Paths.get(data, "selftest")
    Inputs.deleteTree(dir)
    java.nio.file.Files.createDirectories(dir)
    Inputs.writeCorpus(spark, spec, dir, truthPairs = true)

    val cfg = Inputs.filterCfg
    val store = dir.resolve("store").toString
    ResumableRun.runWithDedup(spark, spark.read.parquet(dir.resolve("corpus").toString), cfg,
      new ParquetCorpusStore(store, cfg.saltBuckets), "selftest")
    val got = FilterCheck.readVerdicts(spark, store)
    val lineage = FilterCheck.readLineage(spark, store, "selftest")
    val expected = FilterCheck.readExpected(spark, dir)
    val truth = FilterCheck.readTruthPairs(spark, dir)

    // full equality with the quadratic reference
    val ref = ReferenceOracle.labelCorpus((0L until Files).map(CorpusGen.fileAt(spec, _)), cfg)
    val byKey = got.map(v => (v.repo, v.path) -> v).toMap
    require(ref.size == got.size, s"${got.size} verdicts for ${ref.size} files")
    ref.foreach { l =>
      val v = byKey((l.repo, l.path))
      require(v.keep == l.keep && v.dropReasons == l.dropReasons && v.scrubbed == l.scrubbed,
        s"${l.repo}/${l.path} differs from labelCorpus")
    }
    val nDup = ref.count(_.dropReasons.contains("near_dup"))
    require(nDup > 0, "the self-test corpus has no near-dup drops")

    val clean = FilterCheck.checkVerdicts(got, expected,
      got.filter(_.dropReasons.contains("near_dup")).map(_.key).toSet) ++
      FilterCheck.checkLineage(got, lineage) ++
      FilterCheck.checkNearDup(got, truth, cfg.dedupBands, cfg.dedupRows)
    require(clean.isEmpty, s"the checks reject correct output: ${clean.take(5)}")

    /** The named check must reject the perturbed output. */
    def mustFail(what: String, errs: Seq[String]): Unit = {
      require(errs.nonEmpty, s"planted fault not detected: $what")
      println(s"selftest: $what -> ${errs.head}")
    }
    def verdictErrs(vs: Seq[Verdict]) = {
      val nearDup = vs.filter(_.dropReasons.contains("near_dup")).map(_.key).toSet
      FilterCheck.checkVerdicts(vs, expected, nearDup)
    }
    def nearDupErrs(vs: Seq[Verdict]) = FilterCheck.checkNearDup(vs, truth, cfg.dedupBands, cfg.dedupRows)

    val keptIdx = got.indexWhere(v => v.keep && v.scrubbed.exists(_.nonEmpty))
    val k = got(keptIdx)
    mustFail("flipped verdict", verdictErrs(got.updated(keptIdx, k.copy(keep = false))))
    val s = k.scrubbed.get
    mustFail("changed scrubbed byte", verdictErrs(
      got.updated(keptIdx, k.copy(scrubbed = Some(s.updated(0, (s.charAt(0) + 1).toChar))))))
    val loner = got.indexWhere(v => v.keep && !truth.exists(p => p.a == v.key || p.b == v.key))
    mustFail("near_dup added", nearDupErrs(got.updated(loner,
      got(loner).copy(keep = false, dropReasons = Seq("near_dup"), scrubbed = None))))
    // the dropped file whose pairs are the most similar: LSH cannot lose
    // those, so keeping it breaks the recall floor
    def minJaccard(key: String) =
      truth.filter(p => p.a == key || p.b == key).map(_.jaccard).minOption.getOrElse(0.0)
    val dupIdx = got.indices.filter(i => got(i).dropReasons == Seq("near_dup"))
      .maxBy(i => minJaccard(got(i).key))
    val d = got(dupIdx)
    mustFail("near_dup removed", nearDupErrs(got.updated(dupIdx,
      d.copy(keep = true, dropReasons = Nil, scrubbed = expected((d.repo, d.path)).scrubbedSha))))
    mustFail("lineage count", FilterCheck.checkLineage(got,
      lineage.updated(0, lineage.head.copy(rowsIn = lineage.head.rowsIn + 1))))
    Inputs.deleteTree(dir)
    println("selftest: filter checks OK")
  }
}
