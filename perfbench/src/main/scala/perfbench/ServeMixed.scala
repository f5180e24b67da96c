package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.api.GraphService
import graft.etl.{Enrich, Staging}
import graft.model.GraphSchema
import graft.store.GraphStore

/** serve_mixed: the reference's Flask traffic (dockerapp/app/main.py)
  * through [[GraphService]] — page views (GET / and GET /graph_data),
  * 5-row metadata uploads and deletes — against one flat store that
  * snapshots a CSV after every mutation, as the reference does.
  *
  * Writes run beside reads on one store and fixed per-job overhead
  * dominates, so a store or commit change that speeds writes but slows
  * scans (more files, kept versions) shows here.
  */
final class ServeMixed(ctx: Ctx) extends Workload with TraceQueries {
  import ServeMixed._

  def tracer: Tracer = ctx.tracer
  private val spark = ctx.spark
  private val gen = new Gen.LinkGen(Categories, Keywords, ZipfS)

  private var dir: java.nio.file.Path = _
  private var svc: GraphService = _
  private var rng: Random = _
  private var nextId = 0
  private var preloadHash = ""
  private val opInputs = mutable.ArrayBuffer.empty[String]

  // expected state, in plain Scala
  private val live = mutable.HashMap.empty[String, Gen.Link]
  private val liveIds = mutable.ArrayBuffer.empty[Int]
  private val userBytes = mutable.HashMap.empty[String, Long]
  private var sent = 0L
  private var landed = 0L
  private var filesAfterWarmup = 0L

  def setup(rep: Int): Unit = {
    if (dir != null) Main.deleteTree(dir)
    dir = ctx.tmp.resolve(s"serve-$rep")
    val store = new GraphStore(spark, dir.resolve("graph").toString)
    svc = new GraphService(spark, store, new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner, new Enrich.DeterministicClassifier,
      snapshotPath = Some(dir.resolve("snapshot").toString))
    live.clear(); liveIds.clear(); userBytes.clear(); opInputs.clear()
    sent = 0; landed = 0
    val r = new Random(ctx.seed)
    val kws = gen.keywordLists(r, Preload)
    val rows = (0 until Preload).map(id => gen.valid(r, id, raw = false, kws(id)))
    nextId = Preload
    preloadHash = Gen.hash(rows.iterator.map(_._1.toString))
    val n = LoadQueryTrain.bulkLoad(ctx, store, frame(rows.map(_._1))).count()
    require(n == Preload, s"preload stored $n of $Preload links")
    rows.foreach { case (m, l) => add(m, l) }
    rng = new Random(ctx.seed * 7919 + 1)
  }

  def warmup(): Unit = {
    tracer.span("warmup") {
      Seq("view", "write", "delete").foreach(k => op(-1, k, new Clock))
    }
    filesAfterWarmup = Disk.usage(dir.resolve("graph"))._1
  }

  def kinds: IndexedSeq[String] = Order

  def op(i: Int, kind: String, clock: Clock): Option[String] = kind match {
    case "view" => view(clock)
    case "write" => write(clock)
    case "delete" => delete(clock)
  }

  private def view(clock: Clock): Option[String] = {
    val (listing, inter) = clock(tracer.span("api.index") {
      val (l, j) = svc.index()
      val jr = tracer.span("query.j3") {
        val rows = j.collect()
        if (tracer.enabled) {
          tracer.count("rows_examined", PlanFacts.maxJoinRows(j).toDouble / math.max(1, rows.length))
          tracer.count("plan_ms", PlanFacts.planMs(j).toDouble)
        }
        rows
      }
      (tracer.span("api.listing")(l.collect()), jr)
    })
    val (nodes, edges, dups) = clock(tracer.span("api.graph_data") {
      val (n, e, d) = svc.graphData()
      (n.collect(), e.collect(), d.collect())
    })
    val listed = listing.map(r => r.getAs[String]("url") -> r.getAs[String]("category")).toMap
    val expectListed = live.map { case (u, l) => u -> l.category }
    val kws = live.values.flatMap(_.keywords).toSet
    val cats = live.values.map(_.category).toSet
    Check.all(
      "listing" -> (listing.length == live.size && listed == expectListed),
      "j3 top-100" -> (inter.map(r => (0 until 5).map(r.getString)).toSeq ==
        Expected.j3(live.values, canonical = false)),
      "graph_data nodes" -> (nodes.length == live.size + cats.size + kws.size),
      "graph_data edges" -> (edges.length == live.size + live.values.map(_.keywords.size).sum),
      "graph_data duplicate ids" -> dups.isEmpty)
  }

  private def write(clock: Clock): Option[String] = {
    // every batch does the same work: three new valid rows (one spelled
    // un-normalized), one already stored (the novel check drops it) and
    // one the validity filter rejects, in a seeded order
    val planned = rng.shuffle(BatchMix).map {
      case "stored" =>
        val id = liveIds(rng.nextInt(liveIds.size))
        (gen.valid(rng, id, raw = rng.nextBoolean())._1, None)
      case "invalid" =>
        val id = nextId; nextId += 1
        (gen.invalid(rng, id), None)
      case kind =>
        val id = nextId; nextId += 1
        val (m, l) = gen.valid(rng, id, raw = kind == "raw")
        (m, Some(l))
    }
    opInputs += Gen.hash(planned.iterator.map(_._1.toString))
    val df = frame(planned.map(_._1))
    val n = clock(tracer.span("api.upload") {
      val n = svc.uploadMetadataCsv(df, batchSize = BatchRows)
      tracer.count("rows_sent", BatchRows)
      tracer.count("rows_landed", n.toDouble)
      n
    })
    val accepted = planned.collect { case (m, Some(l)) => (m, l) }
    accepted.foreach { case (m, l) => add(m, l) }
    sent += BatchRows
    landed += n
    Check.all(s"upload landed $n rows, expected ${accepted.size}" -> (n == accepted.size))
  }

  private def delete(clock: Clock): Option[String] = {
    val k = rng.nextInt(liveIds.size)
    val id = liveIds(k)
    val spelled = if (rng.nextBoolean()) Gen.unnormalizedUrl(id) else Gen.canonicalUrl(id)
    opInputs += spelled
    clock(tracer.span("api.delete")(svc.deleteLink(spelled)))
    liveIds(k) = liveIds.last
    liveIds.remove(liveIds.size - 1)
    live.remove(Gen.canonicalUrl(id))
    userBytes.remove(Gen.canonicalUrl(id))
    None
  }

  private def add(m: Gen.Meta, l: Gen.Link): Unit = {
    live(l.url) = l
    liveIds += l.url.stripPrefix("https://site").take(6).toInt
    userBytes(l.url) = m.userBytes
  }

  private def frame(rows: Seq[Gen.Meta]): DataFrame =
    spark.createDataFrame(rows.map(_.toRow).asJava, GraphSchema.metadataCsv)

  /** Restart check: a fresh store on the same root reads back every
    * acknowledged write, and the last snapshot CSV holds the live set. */
  def finish(): Seq[String] = {
    val fresh = new GraphStore(spark, dir.resolve("graph").toString)
    val read = fresh.nodes("link").select("url", "category").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val snap = Staging.readCsv(spark, dir.resolve("snapshot").toString, GraphSchema.metadataCsv)
      .select("url").collect().map(_.getString(0)).toSet
    val expect = live.map { case (u, l) => u -> l.category }
    Seq(
      if (read == expect) None else Some(s"restart: store holds ${read.size} links, expected ${live.size}" +
        s" (${(expect.keySet -- read.keySet).size} missing, ${(read.keySet -- expect.keySet).size} extra)"),
      if (snap == live.keySet) None else Some(s"snapshot CSV holds ${snap.size} urls, expected ${live.size}")
    ).flatten
  }

  def inputsHash: String = Gen.hash(Iterator(preloadHash) ++ opInputs.iterator)

  def metrics(ops: Seq[OpRec]): Map[String, Metric] = {
    val (_, bytes) = Disk.usage(dir.resolve("graph"))
    Stats.latency(ops, "view", "view") ++ Stats.latency(ops, "write", "write") ++
      Stats.latency(ops, "delete", "delete") ++ Map(
        "store_bytes_per_user_byte" -> Metric(bytes.toDouble / userBytes.values.sum, "ratio"),
        "accepted_ratio" -> Metric(landed.toDouble / math.max(1L, sent), "ratio"))
  }

  def readKind: String = "view"
  def writeKind: String = "write"

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    val (files, _) = Disk.usage(dir.resolve("graph"))
    Map(
      "api.upload.ms" -> wallMs("api.upload"), "api.upload.jobs" -> jobs("api.upload"),
      "api.upload.driver_gap_ms" -> driverGapMs("api.upload"),
      "api.upload.accepted_ratio" -> total("api.upload", "rows_landed") / total("api.upload", "rows_sent"),
      "api.delete.ms" -> wallMs("api.delete"), "api.delete.jobs" -> jobs("api.delete"),
      "api.index.ms" -> wallMs("api.index"), "api.graph_data.ms" -> wallMs("api.graph_data"),
      "store.upload.job_ms" -> moduleJobMs(Seq("api.upload"), "store"),
      "store.delete.job_ms" -> moduleJobMs(Seq("api.delete"), "store"),
      "store.output_bytes_per_write" -> outputBytes("api.upload", "store"),
      "store.files" -> files.toDouble,
      "etl.snapshot.job_ms" -> moduleJobMs(Seq("api.upload", "api.delete"), "etl"),
      "query.j3.ms" -> wallMs("query.j3"), "query.j3.plan_ms" -> spanCount("query.j3", "plan_ms"),
      "query.j3.shuffle_bytes" -> shuffleBytes("query.j3"),
      "query.j3.rows_examined" -> spanCount("query.j3", "rows_examined"))
  }

  def determinism: Map[String, Any] = {
    val ops = tracer.allSpans.filter(s => s.parent == 0 && s.name.startsWith("op."))
    Map("inputs_hash_preload_first_write_delete" -> Gen.hash(Iterator(preloadHash) ++ opInputs.take(2)),
      "jobs_first_op_of_kind" -> ops.groupBy(_.name).map { case (k, v) => k -> tracer.jobsIn(v.minBy(_.op)).size },
      "j3_rows_examined_first" -> spans("query.j3").headOption.map(_.counts("rows_examined")),
      "store_output_bytes_first_write" ->
        spans("api.upload").headOption.map(s => tracer.jobsIn(s).filter(_.module == "store").map(_.output).sum),
      "store_files_after_warmup" -> filesAfterWarmup)
  }
}

object ServeMixed {
  /** 20 ops: 10 views, 7 writes and 3 deletes, interleaved evenly
    * (smooth weighted round robin), the same for every seed. A fixed
    * order keeps short runs comparable: the JVM is still warming while
    * they run, and a seeded order would put the views early in some
    * runs and late in others. */
  val Order: IndexedSeq[String] = {
    val weights = Seq("view" -> 10, "write" -> 7, "delete" -> 3)
    val credit = scala.collection.mutable.Map(weights.map(_._1 -> 0): _*)
    (0 until weights.map(_._2).sum).map { _ =>
      weights.foreach { case (k, w) => credit(k) += w }
      val (k, _) = weights.maxBy { case (k, _) => credit(k) }
      credit(k) -= weights.map(_._2).sum
      k
    }
  }

  val Preload = 10000
  val Categories = 25
  val Keywords = 5000
  val ZipfS = 0.8
  /** The rows of every 5-row upload (the reference's form default,
    * main.py:229): new, new spelled un-normalized, already stored,
    * rejected by the validity filter. */
  val BatchMix: Seq[String] = Seq("new", "new", "raw", "stored", "invalid")
  val BatchRows: Int = BatchMix.size
}
