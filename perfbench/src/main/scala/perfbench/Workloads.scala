package perfbench

import graft.bht.Kpis
import graft.config.MappingConfig
import graft.io.{Sinks, Sources}
import graft.ops.{Cleaning, Crosstab, MultiDim}
import graft.pipeline.Transform
import graft.scale.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.SparkSession

/** A workload: one operation is a whole batch run over the input that
  * consumes every output in full (sinks write files).
  */
abstract class Workload {
  /** Input records one operation processes (respondents, documents). */
  def itemsPerOp: Long

  /** Runs one operation over the inputs in `in`, writing outputs to `out`. */
  def run(spark: SparkSession, in: String, out: String, span: Tracer): Unit

  /** Untimed warm-up: `ops` operations on the small input in `warmDir`.
    * The first operation in a JVM pays class loading and code generation,
    * the next ones much of the JIT compilation. A fixed count, not a time
    * budget, so that every run starts measuring from the same history.
    */
  def warmUp(spark: SparkSession, warmDir: String, out: String, ops: Int): Unit =
    (1 to ops).foreach(_ => run(spark, warmDir, s"$out/warm", Tracer.off(spark)))
}

object Workloads {
  def apply(name: String, p: Params): Workload = name match {
    case "survey_wave" => new SurveyWave(p)
    case "corpus_curation" => new CorpusCuration(p)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** One pooled tracker wave, reference order: read → codebook → mapping →
  * Transform → crosstabs (three bases) → 3-dim tabulation → weighted
  * KPIs → JSON bundle + Excel (summary tables) + Parquet (tabulation).
  */
final class SurveyWave(p: Params) extends Workload {
  val itemsPerOp: Long = p.long("respondents")

  def run(spark: SparkSession, in: String, out: String, span: Tracer): Unit = {
    new java.io.File(out).mkdirs()
    val raw = span("io.Sources.readCsv") { Sources.readCsv(spark, s"$in/wave.csv") }
    val codebook = Sources.readCodebook(spark, s"$in/codebook.csv")
    val cfg = MappingConfig.load(s"$in/mapping.json")
    val (tables, release) = span("pipeline.Transform.runReleasable") {
      Transform.runReleasable(raw, cfg, codebook)
    }
    try {
      // downstream tables read the recoded wave, as the reference's
      // in-place codebook recode makes them do
      val wave = Cleaning.applyCodebook(raw, codebook)
      val crosstabs = Seq("total", "row", "col").map { base =>
        s"crosstab_$base" -> span("ops.Crosstab.crosstab") {
          Crosstab.crosstab(wave, "region", "gender", Some("weight"), base)
        }
      }
      val multi = span("ops.MultiDim.multiDimTabulation") {
        MultiDim.multiDimTabulation(wave, Seq("region", "gender", "sec"), Some("weight"))
      }
      val kpis = span("bht.Kpis") {
        Seq(
          "nps_weighted" -> Kpis.npsSummaryWeighted(wave, "nps_recommend", "weight", Seq("region")),
          "csat_weighted" -> Kpis.csatSummaryWeighted(wave, "osat", "weight", Seq("region")))
      }
      val summary = (tables - "tabulation") ++ crosstabs ++ kpis + ("multi_tabulation" -> multi)
      span("io.Sinks.writeJsonBundle") { Sinks.writeJsonBundle(summary, s"$out/bundle.json") }
      span("io.Sinks.writeExcel") { Sinks.writeExcel(summary, s"$out/summary.xlsx") }
      span("io.Sinks.writeParquet") {
        Sinks.writeParquet(Map("tabulation" -> tables("tabulation")), out)
      }
    } finally release()
  }
}

/** LLM-data curation: clean → mix/split/pack manifest, then MinHash
  * dedup of the same corpus, each written to Parquet. Both near-dup
  * component steps are under the default driver budget, so they take the
  * driver fold.
  */
final class CorpusCuration(p: Params) extends Workload {
  val itemsPerOp: Long = p.long("docs")

  def run(spark: SparkSession, in: String, out: String, span: Tracer): Unit = {
    val docs = span("io.Sources.readParquet") { Sources.readParquet(spark, s"$in/corpus.parquet") }
    val clean = span("scale.TextAnalysis.cleanCorpus") {
      TextAnalysis.cleanCorpus(docs, "id", "text", Seq("en"))
    }
    val manifest = span("scale.Curation.curateCleaned") {
      Curation.curateCleaned(clean, "id", "text", "source",
        p.double("alpha"), p.long("total_budget"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        p.int("pack_budget"), p.int("shards"), metaCols = Seq("source"))
    }
    span("io.Sinks.writeParquet") { Sinks.writeParquet(Map("manifest" -> manifest), out) }
    val deduped = span("scale.Dedup.deduplicate") { Dedup.deduplicate(docs, "id", "text") }
    span("io.Sinks.writeParquet") { Sinks.writeParquet(Map("dedup" -> deduped), out) }
  }
}
