package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.{Decontaminate, Dedup, Packing, TextAnalysis}

/** The EP-T training-data chain (score, exact dedup, MinHash near-dup
  * pairs, near-dup drop, bloom-prefiltered decontamination, PII
  * redaction, token-budget packing) on a fresh seeded corpus with
  * planted exact and near duplicates and an eval slice that shares
  * 8-grams with it. `ext` and `functions` do almost all the work; the
  * graph store is idle.
  */
final class TrainingChain(ctx: Ctx) extends TraceQueries {
  import TrainingChain._

  def tracer: Tracer = ctx.tracer
  private val spark = ctx.spark
  private val hashes = mutable.ArrayBuffer.empty[String]
  private val docsPerS = mutable.ArrayBuffer.empty[Double]
  private val keptRatio = mutable.ArrayBuffer.empty[Double]
  private val bloomPrecision = mutable.ArrayBuffer.empty[Double]
  private var lastDocs: DataFrame = _

  def corpus(cycle: Long, docs: Int): Gen.Corpus = Gen.corpus(ctx.seed * 1000003L + cycle, docs)

  /** Run the chain on `c`, timing it through `clock`; `measured` runs
    * feed the metrics. Returns how the output failed its checks, if it did. */
  def run(c: Gen.Corpus, clock: Clock, measured: Boolean): Option[String] = {
    if (measured) hashes += Gen.hash(c.docs.iterator.map(_.toString) ++ c.eval.iterator)
    val docs = spark.createDataFrame(
      c.docs.map(d => org.apache.spark.sql.Row(d.id, d.text, d.source)).asJava, DocSchema)
    val eval = spark.createDataFrame(c.eval.map(t => org.apache.spark.sql.Row(t)).asJava,
      StructType(Seq(StructField("text", StringType))))
    lastDocs = docs
    val t0 = System.nanoTime()
    val (packed, counts) = clock(chain(docs, eval))
    if (measured) docsPerS += c.docs.size / ((System.nanoTime() - t0) / 1e9)
    if (tracer.enabled) {
      val n = counts.map { case (k, df) => k -> df.count() }
      keptRatio += n("deduped").toDouble / n("filtered")
      bloomPrecision += n("confirmed").toDouble / math.max(1L, n("flagged"))
    }
    check(c, packed)
  }

  /** The chain, with each stage pinned so its span holds its work. */
  private def chain(docs: DataFrame, eval: DataFrame)
      : (Seq[(Long, String, Long, Long)], Map[String, DataFrame]) = {
    val scored = tracer.span("ext.score")(docs.select(col("doc_id"), col("text"), col("source"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
      .localCheckpoint(true))
    val filtered = scored.filter(col("quality") >= 0.6 && col("lang_pred") =!= "und")
    val exact = tracer.span("ext.drop_exact")(
      Dedup.dropExact(filtered, "doc_id", Seq("text")).localCheckpoint(true))
    val pairs = tracer.span("ext.minhash")(
      Dedup.minHashDupPairs(exact.select(col("doc_id"), col("text")), "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, threshold = 0.5).localCheckpoint(true))
    val deduped = tracer.span("ext.drop_near")(
      Dedup.dropNearDups(exact, "doc_id", pairs).localCheckpoint(true))
    val (decon, flagged, confirmed) = tracer.span("ext.decontam") {
      val bloom = Decontaminate.benchmarkBloom(eval, "text", n = 8, expectedGrams = 100000L)
      val flagged = deduped.join(
        Decontaminate.bloomContaminationFlagsWith(deduped, "doc_id", "text", bloom, n = 8)
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      val confirmed = Decontaminate.contaminationReportWith(flagged, "doc_id", "text",
        Decontaminate.benchmarkGrams(eval, "text", n = 8), n = 8).localCheckpoint(true)
      (deduped.join(confirmed.select(col("doc_id")), Seq("doc_id"), "left_anti"), flagged, confirmed)
    }
    val packed = tracer.span("ext.pii_pack") {
      val clean = decon.withColumn("clean_len", length(TextAnalysis.redactPii(col("text"))).cast("long"))
      Packing.packByBudget(clean, "source", "doc_id", "clean_len", Budget)
        .select(col("doc_id"), col("source"), col("clean_len"), col("bin").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    }
    (packed, Map("filtered" -> filtered, "deduped" -> deduped,
      "flagged" -> flagged, "confirmed" -> confirmed))
  }

  /** Planted duplicates and contamination are gone and every survivor
    * sits in the bin packByBudget's rule assigns. */
  private def check(c: Gen.Corpus, packed: Seq[(Long, String, Long, Long)]): Option[String] = {
    val kept = packed.map(_._1).toSet
    val evalGrams = c.eval.flatMap(grams).toSet
    val text = c.docs.map(d => d.id -> d.text).toMap
    val exact = c.exactPairs.count { case (a, b) => kept(a) && kept(b) }
    val near = c.nearPairs.count { case (a, b) => kept(a) && kept(b) }
    val contaminated = kept.count(id => grams(text(id)).exists(evalGrams))
    // packByBudget's rule: a document's bin is the floor of the text
    // length packed before it in its shard (doc_id order) over the
    // budget, so a bin's documents all start inside one budget window
    val misbinned = packed.groupBy(_._2).values.map { shard =>
      val sorted = shard.sortBy(_._1)
      val before = sorted.scanLeft(0L)(_ + _._3)
      sorted.zip(before).count { case (p, off) => p._4 != off / Budget }
    }.sum
    Check.all(
      s"$exact planted exact duplicates survive beside their original" -> (exact == 0),
      s"$near planted near-duplicate pairs survive whole" -> (near == 0),
      s"$contaminated survivors share an 8-gram with the eval slice" -> (contaminated == 0),
      s"$misbinned documents packed into the wrong bin" -> (misbinned == 0),
      "no document survives" -> kept.nonEmpty)
  }

  private def grams(t: String): Iterator[String] =
    t.trim.split("\\s+").sliding(8).filter(_.length == 8).map(_.mkString(" "))

  def inputsHashes: Seq[String] = hashes.toSeq

  def metrics: Map[String, Metric] =
    Map("docs_per_s" -> Metric(Stats.median(docsPerS.toSeq), "docs/s"))

  def layerMetrics: Map[String, Double] = Map(
    "ext.score.ms" -> wallMs("ext.score"), "ext.drop_exact.ms" -> wallMs("ext.drop_exact"),
    "ext.minhash.ms" -> wallMs("ext.minhash"), "ext.drop_near.ms" -> wallMs("ext.drop_near"),
    "ext.decontam.ms" -> wallMs("ext.decontam"), "ext.pii_pack.ms" -> wallMs("ext.pii_pack"),
    "ext.dedup.kept_ratio" -> Stats.median(keptRatio.toSeq),
    "ext.bloom.precision" -> Stats.median(bloomPrecision.toSeq)) ++ kernelRates()

  /** Rows per second of each codegen kernel over the last op's corpus
    * (ten copies), median of three passes. */
  private def kernelRates(): Map[String, Double] = {
    val docs = lastDocs.crossJoin(spark.range(KernelCopies).toDF("copy"))
      .select(col("text")).localCheckpoint(true)
    val n = docs.count()
    val kernels: Seq[(String, Column)] = Seq(
      "minhash" -> sum(size(graft.functions.MinHash.minhashSignature(
        TextAnalysis.shingles(col("text"), 3), 32, 42L))),
      "quality" -> sum(TextAnalysis.qualityScore(col("text"))),
      "langid" -> org.apache.spark.sql.functions.count(when(TextAnalysis.langId(col("text")) === "en", 1)),
      "pii" -> sum(length(TextAnalysis.redactPii(col("text")))))
    kernels.map { case (k, agg) =>
      val times = (0 until 3).map(_ => Main.seconds(docs.agg(agg).collect()))
      s"functions.$k.rows_per_s" -> n / Stats.median(times)
    }.toMap
  }

  def determinism: Map[String, Any] = Map(
    "kept_ratio_first" -> keptRatio.headOption, "bloom_precision_first" -> bloomPrecision.headOption)
}

object TrainingChain {
  val Budget = 8192L
  val KernelCopies = 10
  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType)))
}
