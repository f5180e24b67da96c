package perfbench

import scala.util.Random

/** Seeded input generators. The same seed always yields the same
  * inputs; the program under test only ever sees what these produce.
  *
  * Page text uses the vocabulary and length profile of the repo's
  * sf0.1 `documents` table (30 words, 10–100 tokens per page), mixed
  * with the stopwords of one of the five languages the engine's
  * language-ID kernel knows, so the quality and language filters have
  * real work and real rejects.
  */
object Gen {
  val Vocabulary: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs: Array[String] = graft.functions.TokenStatsKernel.Langs
  private val Stop = graft.functions.TokenStatsKernel.StopwordLists

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    val pmf: IndexedSeq[Double] = {
      val w = IndexedSeq.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      w.map(_ / w.sum)
    }
    private val cdf: Array[Double] = pmf.scanLeft(0.0)(_ + _).tail.toArray
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `words` tokens of page text; `lang` picks the stopword mix. */
  def text(r: Random, words: Int, lang: String): String = {
    val stop = Stop(lang)
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      sb.append(if (r.nextDouble() < 0.15) stop(r.nextInt(stop.size))
        else Vocabulary(r.nextInt(Vocabulary.length)))
      i += 1
    }
    sb.toString
  }

  /** Token count with the documents-table profile: 10–100, median ~54. */
  def pageWords(r: Random): Int = 10 + r.nextInt(91)

  // ---- link metadata (serve_mixed, load_and_query) ----

  /** One 7-column metadata CSV row (the reference's
    * links_with_metadata.csv shape). */
  final case class Meta(url: String, title: String, content: String,
      category: String, keyword: String, categoryExplanation: String,
      keywordExplanation: String) {
    def toRow: org.apache.spark.sql.Row = org.apache.spark.sql.Row(url, title,
      content, category, keyword, categoryExplanation, keywordExplanation)
    /** UTF-8 bytes of the user-supplied fields. */
    def userBytes: Long =
      productIterator.map(_.toString.getBytes("UTF-8").length.toLong).sum
  }

  /** The stored (normalized) form of a link: what a reader of the
    * store must see after the row is accepted. */
  final case class Link(url: String, category: String, keywords: Seq[String])

  def canonicalUrl(id: Int): String = f"https://site$id%06d.example/page"
  /** A spelling of [[canonicalUrl]] the engine must normalize: mixed-case
    * scheme and host, trailing slash, query string and fragment. */
  def unnormalizedUrl(id: Int): String =
    f"HTTPS://Site$id%06d.EXAMPLE/page/?utm=$id#top"

  final class LinkGen(categories: Int, keywords: Int, zipfS: Double) {
    private val zipf = new Zipf(keywords, zipfS)
    def category(k: Int): String = f"cat$k%02d"
    def keyword(k: Int): String = f"kw$k%05d"

    /** 1–3 distinct keywords drawn from the Zipf law. */
    def sampleKeywords(r: Random): Seq[String] = {
      val kws = scala.collection.mutable.LinkedHashSet.empty[String]
      val n = 1 + r.nextInt(3)
      while (kws.size < n) kws += keyword(zipf.sample(r))
      kws.toSeq
    }

    /** Keyword lists for `n` links: a third each of 1, 2 and 3 keywords,
      * and keyword k dealt ⌊slots × pmf(k)⌋ times in a seeded order, so
      * every seed gives the same keyword frequencies (the J3 self-join
      * size follows them). Slots the deal leaves over are sampled. */
    def keywordLists(r: Random, n: Int): IndexedSeq[Seq[String]] = {
      val sizes = r.shuffle(IndexedSeq.tabulate(n)(i => 1 + i % 3))
      val slots = sizes.sum
      val deck = r.shuffle(zipf.pmf.indices.flatMap(k => Seq.fill((slots * zipf.pmf(k)).toInt)(k)))
      var pos = 0
      sizes.map { size =>
        val kws = scala.collection.mutable.LinkedHashSet.empty[String]
        while (kws.size < size) {
          kws += keyword(if (pos < deck.size) deck(pos) else zipf.sample(r))
          pos += 1
        }
        kws.toSeq
      }
    }

    /** A valid row for page `id`; `raw` spells its url un-normalized. */
    def valid(r: Random, id: Int, raw: Boolean,
        kws: Seq[String] = Nil): (Meta, Link) = {
      val keywords = if (kws.nonEmpty) kws else sampleKeywords(r)
      val cat = category(r.nextInt(categories))
      val lang = Langs(r.nextInt(Langs.length))
      // ≥ 100 characters after trim: the validity filter's floor
      var content = text(r, pageWords(r), lang)
      while (content.length < 100) content += " " + text(r, 10, lang)
      val url = if (raw) unnormalizedUrl(id) else canonicalUrl(id)
      (Meta(url, s"Page $id", content, cat, keywords.mkString(","),
        s"$cat from page text", s"${keywords.head} from page text"),
        Link(canonicalUrl(id), cat, keywords))
    }

    /** A row the validity filter must reject (short content,
      * 'Uncategorized' or keyword 'none'). */
    def invalid(r: Random, id: Int): Meta = {
      val (m, _) = valid(r, id, raw = false)
      r.nextInt(3) match {
        case 0 => m.copy(content = "too short")
        case 1 => m.copy(category = "Uncategorized")
        case _ => m.copy(keyword = "none")
      }
    }
  }

  // ---- training corpus ----

  final case class Doc(id: Long, text: String, source: String)

  /** Corpus with planted positives for every filtering stage.
    * `exactPairs`/`nearPairs` are (original id, planted id). */
  final case class Corpus(docs: Seq[Doc], eval: Seq[String],
      exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)])

  /** `base` original docs (half English, the rest any of the five
    * languages; 5% carry an email address and a phone number) plus
    * exact copies of 8% of them and near copies (two extra lead
    * tokens: 3-shingle Jaccard ≥ 0.8 at the 10-token floor) of another
    * 8%, and an eval slice of `base / 25` texts, half of which copy a
    * 12-token window out of a corpus doc. Every share is exact, at
    * seeded positions. */
  def corpus(seed: Long, base: Int): Corpus = {
    val r = new Random(seed)
    val sources = Array("src0", "src1", "src2", "src3")
    val pii = r.shuffle((0 until base).toIndexedSeq).take(base / 20).toSet
    val originals = (0 until base).map { i =>
      val lang = if (i % 2 == 0) "en" else Langs(r.nextInt(Langs.length))
      val t = text(r, pageWords(r), lang)
      Doc(i.toLong, if (!pii(i)) t
        else t + s" contact user$i@mail${i % 7}.example.com or 555-${100 + i % 900}-${1000 + i % 9000}",
        sources(r.nextInt(sources.length)))
    }
    val planted = r.shuffle(originals).take(base * 16 / 100)
    val exact = planted.take(base * 8 / 100).map(d => (d.id, d.id + 2000000L))
    val near = planted.drop(base * 8 / 100).map(d => (d.id, d.id + 1000000L))
    val copies = exact.map { case (o, c) => originals(o.toInt).copy(id = c) } ++
      near.map { case (o, c) =>
        originals(o.toInt).copy(id = c, text = "duplicate marker " + originals(o.toInt).text) }
    val long = originals.filter(_.text.split(" ").length >= 12)
    val evalSize = base / 25
    val eval = (0 until evalSize).map { k =>
      if (k < evalSize / 2) {
        val toks = long(r.nextInt(long.size)).text.split(" ")
        val at = r.nextInt(toks.length - 11)
        toks.slice(at, at + 12).mkString(" ") + " " + text(r, 10, "en")
      } else text(r, 20 + r.nextInt(40), "en")
    }
    Corpus(originals ++ copies, eval, exact, near)
  }

  def hash(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
