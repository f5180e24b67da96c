package perfbench

import scala.collection.mutable

/** Expected query results, computed in plain Scala from the generated
  * inputs. */
object Expected {
  /** J3 top-100: pairs of links sharing a keyword across different
    * categories, ordered by (keyword, category1, category2, url1, url2).
    * `canonical` keeps url1 < url2; otherwise url1 ≠ url2. */
  def j3(links: Iterable[Gen.Link], canonical: Boolean, limit: Int = 100): Seq[Seq[String]] = {
    val out = mutable.ArrayBuffer.empty[Seq[String]]
    val it = byKeyword(links).iterator
    while (out.size < limit && it.hasNext) {
      val (kw, members) = it.next()
      val byCat = members.groupBy(_.category).toSeq.sortBy(_._1)
        .map { case (c, m) => c -> m.map(_.url).sorted }
      for ((c1, u1s) <- byCat; (c2, u2s) <- byCat if c1 != c2 && out.size < limit;
           u1 <- u1s if out.size < limit; u2 <- u2s if out.size < limit && (!canonical || u1 < u2))
        out += Seq(u1, c1, u2, c2, kw)
    }
    out.toSeq
  }

  final case class Analytics(delta: Long, vertices: Long, components: Long,
      coreNodes: Long, coComponents: Long, triangles: Long)

  /** The analytics suite's answers on one loaded slice. `id` recovers
    * a link's page number (the delta batch and the projection slice
    * are chosen by it). */
  def analytics(links: Seq[Gen.Link], deltaEvery: Int, sliceEvery: Int, coreK: Int,
      id: Gen.Link => Int): Analytics = {
    val kws = byKeyword(links)
    // delta: pairs with at least one endpoint edge in the batch
    var delta = 0L
    kws.values.foreach { members =>
      val batch = members.filter(l => id(l) % deltaEvery == 0)
      val inBatch = batch.map(_.url).toSet
      for (b <- batch; u <- members if u.url != b.url && u.category != b.category &&
           (!inBatch(u.url) || b.url < u.url)) delta += 1
    }
    val components = componentCount(links.flatMap(l => l.keywords.map(k => (l.url, "kw:" + k))))
    // co-keyword projection of the slice, then k-core and triangles
    val co = mutable.HashSet.empty[(String, String)]
    kws.values.foreach { members =>
      val s = members.filter(l => id(l) % sliceEvery == 0).map(_.url).sorted
      for (i <- s.indices; j <- i + 1 until s.size) co += ((s(i), s(j)))
    }
    var core = co.toSet
    var stable = false
    while (!stable) {
      val deg = (core.toSeq.map(_._1) ++ core.toSeq.map(_._2)).groupBy(identity).map { case (n, v) => n -> v.size }
      val next = core.filter { case (a, b) => deg(a) >= coreK && deg(b) >= coreK }
      stable = next.size == core.size
      core = next
    }
    val coreNodes = (core.map(_._1) ++ core.map(_._2)).size.toLong
    val adj = mutable.HashMap.empty[String, mutable.HashSet[String]]
    co.foreach { case (a, b) => adj.getOrElseUpdate(a, mutable.HashSet.empty) += b }
    var triangles = 0L
    co.foreach { case (a, b) =>
      adj.get(b).foreach(nb => adj(a).foreach(c => if (c > b && nb(c)) triangles += 1))
    }
    Analytics(delta, links.size + kws.size, components, coreNodes, componentCount(co.toSeq), triangles)
  }

  private def componentCount(edges: Seq[(String, String)]): Long = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (a, b) = (find(u), find(v))
      if (a != b) parent(a) = b
    }
    parent.keys.map(find).toSet.size.toLong
  }

  private def byKeyword(links: Iterable[Gen.Link]): mutable.TreeMap[String, mutable.ArrayBuffer[Gen.Link]] = {
    val m = mutable.TreeMap.empty[String, mutable.ArrayBuffer[Gen.Link]]
    links.foreach(l => l.keywords.foreach(k => m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += l))
    m
  }
}
