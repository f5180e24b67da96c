package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Staging
import graft.graphx.GraphOps
import graft.model.{EdgeTypes, GraphSchema}
import graft.query.GraphQueries
import graft.store.GraphStore

/** load_query_train: the batch jobs. Each cycle bulk-loads fresh
  * seeded slices of metadata rows into new stores through the EP1
  * calls (CSV write, multiLine parse, validity filter, staging, five
  * table writes), runs the flagship J3 and the analytics suite on the
  * last one, then runs the training-data chain on a fresh corpus.
  *
  * The store is written once in bulk and then only scanned, so `query`,
  * `graphx`, `ext` and `functions` do most of the work; the round loops
  * (k-core, star connected components), the triangle wedge join and
  * each training stage have their own span.
  */
final class LoadQueryTrain(ctx: Ctx) extends Workload with TraceQueries {
  import LoadQueryTrain._

  def tracer: Tracer = ctx.tracer
  private val spark = ctx.spark
  private val gen = new Gen.LinkGen(Categories, Keywords, ZipfS)

  /** One cycle's inputs and the state a correct load must produce. */
  private final class Slice(val rows: Seq[Gen.Meta], val links: Seq[Gen.Link]) {
    lazy val hash: String = Gen.hash(rows.iterator.map(_.toString))
    def id(l: Gen.Link): Int = l.url.stripPrefix("https://site").take(6).toInt
  }

  private val training = new TrainingChain(ctx)
  private var slice: Slice = _
  private var corpus: Gen.Corpus = _
  private var store: GraphStore = _
  private var dir: java.nio.file.Path = _
  private val hashes = mutable.ArrayBuffer.empty[String]
  private val rowsPerLoad = mutable.ArrayBuffer.empty[Double]
  private val filesPerLoad = mutable.ArrayBuffer.empty[Long]
  private var validRatio = Double.NaN

  /** `rows` pages: exactly `InvalidShare` of them invalid, `RawShare`
    * of the valid ones spelled un-normalized and `DuplicateShare` of
    * them repeated in the feed, at seeded positions. */
  private def generate(cycle: Int, rows: Int): Slice = {
    val r = new Random(ctx.seed * 1000003L + cycle)
    val invalid = (rows * InvalidShare).toInt
    val valid = rows - invalid
    val raw = (valid * RawShare).toInt
    val kind = r.shuffle(Seq.fill(invalid)(0) ++ Seq.fill(raw)(1) ++ Seq.fill(valid - raw)(2)).toIndexedSeq
    val repeated = r.shuffle((0 until rows).filter(kind(_) > 0)).take((valid * DuplicateShare).toInt).toSet
    val kws = gen.keywordLists(r, valid).iterator
    val metas = mutable.ArrayBuffer.empty[Gen.Meta]
    val links = mutable.ArrayBuffer.empty[Gen.Link]
    for (id <- 0 until rows) {
      if (kind(id) == 0) metas += gen.invalid(r, id)
      else {
        val (m, l) = gen.valid(r, id, raw = kind(id) == 1, kws.next())
        metas += m
        links += l
        if (repeated(id)) metas += m
      }
    }
    new Slice(metas.toSeq, links.toSeq)
  }

  def setup(rep: Int): Unit = {
    slice = generate(0, Rows)
    corpus = training.corpus(0, Docs)
  }

  def warmup(): Unit = tracer.span("warmup") {
    val (keepSlice, keepCorpus) = (slice, corpus)
    slice = generate(-1, WarmRows)
    corpus = training.corpus(-1, WarmDocs)
    Kinds.foreach(k => op(-1, k, new Clock))
    slice = keepSlice
    corpus = keepCorpus
  }

  def kinds: IndexedSeq[String] = Kinds
  override def cycle: Int = Kinds.size

  def op(i: Int, kind: String, clock: Clock): Option[String] = kind match {
    case "load" =>
      if (i > 0) slice = generate(i, Rows)
      if (i >= 0) hashes += slice.hash
      load(clock, measured = i >= 0)
    case "j3" => j3(clock)
    case "analytics" => analytics(clock)
    case "train" =>
      if (i > Kinds.size) corpus = training.corpus(i / Kinds.size, Docs)
      training.run(corpus, clock, measured = i >= 0)
  }

  private def load(clock: Clock, measured: Boolean): Option[String] = {
    if (dir != null) Main.deleteTree(dir)
    dir = ctx.tmp.resolve(s"load-${System.nanoTime()}")
    val csv = dir.resolve("links_with_metadata").toString
    val input = spark.createDataFrame(slice.rows.map(_.toRow).asJava, GraphSchema.metadataCsv)
    store = new GraphStore(spark, dir.resolve("graph").toString)
    val t0 = System.nanoTime()
    val links = clock {
      tracer.span("etl.csv_write")(Staging.writeCsvSingle(input, csv))
      bulkLoad(ctx, store, Staging.readCsv(spark, csv, GraphSchema.metadataCsv))
    }
    if (measured) {
      rowsPerLoad += slice.rows.size / ((System.nanoTime() - t0) / 1e9)
      filesPerLoad += Disk.usage(dir.resolve("graph"))._1
    }
    val stored = links.count()
    validRatio = stored.toDouble / slice.rows.size
    val edges = store.edges(EdgeTypes.HasKeyword).count()
    Check.all(
      s"stored $stored links, expected ${slice.links.size}" -> (stored == slice.links.size),
      s"stored $edges keyword edges" -> (edges == slice.links.map(_.keywords.size).sum))
  }

  private def j3(clock: Clock): Option[String] = {
    val hk = store.edges(EdgeTypes.HasKeyword)
    val bt = store.edges(EdgeTypes.BelongsTo)
    val rows = clock(tracer.span("query.j3") {
      val df = GraphQueries.interconnections(hk, bt, canonicalPairs = true, limit = 100)
      val rows = df.collect()
      if (tracer.enabled) {
        tracer.count("rows_examined", PlanFacts.maxJoinRows(df).toDouble / math.max(1, rows.length))
        tracer.count("plan_ms", PlanFacts.planMs(df).toDouble)
      }
      rows
    })
    Check.all("j3 top-100" ->
      (rows.map(r => (0 until 5).map(r.getString)).toSeq == Expected.j3(slice.links, canonical = true)))
  }

  private def analytics(clock: Clock): Option[String] = {
    import spark.implicits._
    val hk = store.edges(EdgeTypes.HasKeyword)
    val bt = store.edges(EdgeTypes.BelongsTo)
    val batch = slice.links.filter(l => slice.id(l) % DeltaEvery == 0)
      .flatMap(l => l.keywords.map(k => (l.url, k))).toDF("src", "dst")
    val got = clock {
      val delta = tracer.span("query.delta")(
        GraphQueries.interconnectionsDelta(batch, hk, bt).count())
      val g = tracer.span("graphx.build") {
        val dict = GraphOps.vertexDictionary(Seq(
          "link" -> store.nodes("link").select("url"),
          "keyword" -> store.nodes("keyword").select("name")))
        val g = GraphOps.buildGraph(spark, dict, Seq((EdgeTypes.HasKeyword, "link", "keyword", hk)))
        g.cache()
        g.edges.count()
        (dict, g)
      }
      val pr = tracer.span("graphx.pagerank")(
        GraphOps.pageRankByOrigId(spark, g._1, g._2).count())
      val gxComponents = tracer.span("graphx.cc")(
        GraphOps.connectedComponentsByOrigId(spark, g._1, g._2)
          .agg(countDistinct("component")).collect()(0).getLong(0))
      g._2.unpersist(blocking = false)
      val co = tracer.span("query.projection") {
        val s = hk.filter(substring(col("src"), 13, 6).cast("int") % SliceEvery === 0)
        s.as("a").join(s.as("b"), col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
          .select(col("a.src").as("src"), col("b.src").as("dst")).distinct()
          .localCheckpoint(true)
      }
      val core = tracer.span("query.kcore")(GraphQueries.kCore(co, CoreK).count())
      val starComponents = tracer.span("query.cc_star")(
        GraphQueries.connectedComponentsStar(co).agg(countDistinct("component")).collect()(0).getLong(0))
      val tri = tracer.span("query.triangles") {
        val df = GraphQueries.clusteringCoefficients(co).agg(sum("tri"))
        val t = df.collect()(0).getLong(0)
        if (tracer.enabled) tracer.count("wedges", PlanFacts.maxJoinRows(df).toDouble)
        t
      }
      (delta, pr, gxComponents, core, starComponents, tri)
    }
    val e = Expected.analytics(slice.links, DeltaEvery, SliceEvery, CoreK, slice.id)
    val want = (e.delta, e.vertices, e.components, e.coreNodes, e.coComponents, 3 * e.triangles)
    Check.all(s"(delta, pagerank vertices, graphx components, k-core nodes, star components, " +
      s"triangle credits) = $got, expected $want" -> (got == want))
  }

  def finish(): Seq[String] = Nil

  def inputsHash: String = Gen.hash(hashes.iterator ++ training.inputsHashes.iterator)

  def metrics(ops: Seq[OpRec]): Map[String, Metric] =
    Kinds.distinct.map(k => Stats.latency(ops, k, k)).reduce(_ ++ _) ++ training.metrics ++ Map(
      "load_rows_per_s" -> Metric(Stats.median(rowsPerLoad.toSeq), "rows/s"),
      "valid_ratio" -> Metric(validRatio, "ratio"))

  def readKind: String = "j3"
  def writeKind: String = "load"

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = training.layerMetrics ++ Map(
    "store.write.ms" -> wallMs("store.write"),
    "store.write.output_bytes" -> outputBytes("store.write", "store"),
    "store.files" -> Stats.median(filesPerLoad.map(_.toDouble).toSeq),
    "etl.csv_write.ms" -> wallMs("etl.csv_write"), "etl.parse_stage.ms" -> wallMs("etl.parse_stage"),
    "etl.valid_ratio" -> validRatio,
    "query.j3.ms" -> wallMs("query.j3"), "query.j3.plan_ms" -> spanCount("query.j3", "plan_ms"),
    "query.j3.shuffle_bytes" -> shuffleBytes("query.j3"),
    "query.j3.rows_examined" -> spanCount("query.j3", "rows_examined"),
    "query.delta.ms" -> wallMs("query.delta"),
    "query.kcore.ms" -> wallMs("query.kcore"), "query.kcore.jobs" -> jobs("query.kcore"),
    "query.cc_star.ms" -> wallMs("query.cc_star"), "query.cc_star.jobs" -> jobs("query.cc_star"),
    "query.triangles.ms" -> wallMs("query.triangles"),
    "query.triangles.wedges" -> spanCount("query.triangles", "wedges"),
    "graphx.build.ms" -> wallMs("graphx.build"), "graphx.pagerank.ms" -> wallMs("graphx.pagerank"),
    "graphx.pagerank.stages" -> stages("graphx.pagerank"), "graphx.cc.ms" -> wallMs("graphx.cc"))

  def determinism: Map[String, Any] = {
    val first = tracer.allSpans.filter(s => s.parent == 0 && s.name.startsWith("op.")).take(Kinds.size)
    training.determinism ++ Map(
      "inputs_hash_first_cycle" -> Gen.hash(hashes.take(3).iterator ++ training.inputsHashes.take(1).iterator),
      "jobs_first_cycle" -> first.map(s => s"${s.name}:${tracer.jobsIn(s).size}"),
      "j3_rows_examined_first" -> spans("query.j3").headOption.map(_.counts("rows_examined")),
      "triangles_wedges_first" -> spans("query.triangles").headOption.map(_.counts("wedges")),
      "store_files_first_load" -> filesPerLoad.headOption,
      "store_output_bytes_first_load" ->
        spans("store.write").headOption.map(s => tracer.jobsIn(s).filter(_.module == "store").map(_.output).sum))
  }
}

object LoadQueryTrain {
  /** The EP1 load after the CSV parse: validity filter, staging from
    * one pinned link frame, and the five table writes, run concurrently
    * as the library's own EP1 store build runs them. Returns the pinned
    * link frame. */
  def bulkLoad(ctx: Ctx, store: GraphStore, meta: DataFrame): DataFrame = {
    val (links, staged) = ctx.tracer.span("etl.parse_stage") {
      val links = GraphStore.materialize(ctx.spark,
        Staging.linksFromMetadata(Staging.validRows(meta)))
      (links, Staging.stageFromLinks(links))
    }
    ctx.tracer.span("store.write") {
      val writes = Seq[() => Unit](
        () => store.writeNodes("link", staged.links),
        () => store.writeNodes("category", staged.categories),
        () => store.writeNodes("keyword", staged.keywords),
        () => store.writeEdges(EdgeTypes.BelongsTo, staged.belongsTo),
        () => store.writeEdges(EdgeTypes.HasKeyword, staged.hasKeyword))
      Await.result(Future.sequence(writes.map(w => Future(w()))), Duration.Inf)
    }
    links
  }

  /** One cycle: three loads of fresh slices, then five J3 runs, the
    * analytics suite and the training chain on the last store. Loads
    * and J3 are the short ops; several samples a cycle keep their
    * medians steady. */
  val Kinds: IndexedSeq[String] =
    IndexedSeq.fill(3)("load") ++ IndexedSeq.fill(5)("j3") ++ IndexedSeq("analytics", "train")
  val Rows = 6000
  val WarmRows = 1000
  /** Originals per training corpus; planted copies bring it to 2,900. */
  val Docs = 2500
  val WarmDocs = 500
  val Categories = 25
  val Keywords = 5000
  val ZipfS = 0.8
  val InvalidShare = 0.1
  val RawShare = 0.2
  val DuplicateShare = 0.05
  /** The delta batch: the HAS_KEYWORD edges of every 50th link. */
  val DeltaEvery = 50
  /** The co-keyword projection for the round loops and triangles: every 10th link. */
  val SliceEvery = 10
  val CoreK = 10
}
