package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.TestSpark

/** The top-k J3 path (`TopKPairs`) against the unbounded self-join
  * path: for every k, `interconnections(.., limit = k)` is exactly the
  * first k rows of `interconnections(.., limit = Int.MaxValue)`.
  *
  * The random graphs carry what the enumeration must get right: links
  * filed under two categories, duplicate `hasKeyword`/`belongsTo` rows,
  * null keys, non-ASCII and non-BMP urls (where UTF-16 order, which a
  * JVM `String` compare uses, differs from Spark's UTF-8 byte order),
  * and integer-typed keys with negative values. Every case runs a
  * dozen Spark jobs, so the case count is small and a failing case is
  * reported as drawn, not shrunk. */
object InterconnectionsTopKSpec extends Properties("interconnectionsTopK") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  // "Ａ" and "Ｚ" sort after a surrogate pair in UTF-16 but before it
  // in UTF-8
  private val urls = Seq("a", "B", "é", "Ａ", "😀", "😀x", "z")
  private val keywords = Seq("k1", "k2", "ü")
  private val categories = Seq("A", "C", "Ｚ", "🌍")

  private def orNull[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(12 -> g.map(Some(_)), 1 -> Gen.const(None))

  /** `(src, dst)` edge lists; drawing from small domains makes duplicate
    * rows and links in several categories common. */
  private def graph[U, K, C](u: Gen[U], k: Gen[K], c: Gen[C]) = for {
    hk <- Gen.choose(0, 24).flatMap(Gen.listOfN(_, Gen.zip(orNull(u), orNull(k))))
    bt <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, Gen.zip(orNull(u), orNull(c))))
  } yield (hk, bt)

  /** Both pair modes, k ∈ {0, 1, 7, n, n+1} with n the full pair count. */
  private def topKIsPrefix(hk: DataFrame, bt: DataFrame): Prop =
    Prop.all(Seq(true, false).map { canonical =>
      def rows(limit: Int): Seq[Row] = GraphQueries.interconnections(
        hk, bt, canonicalPairs = canonical, limit = limit).collect().toSeq
      val all = rows(Int.MaxValue)
      Prop.all(Seq(0, 1, 7, all.size, all.size + 1).map { k =>
        val got = rows(k)
        (got == all.take(k)) :| s"canonical=$canonical k=$k: $got vs ${all.take(k)}"
      }: _*)
    }: _*)

  property("string keys: top-k equals the prefix of the self-join result") =
    forAllNoShrink(graph(Gen.oneOf(urls), Gen.oneOf(keywords), Gen.oneOf(categories))) {
      case (hk, bt) => topKIsPrefix(hk.toDF("src", "dst"), bt.toDF("src", "dst"))
    }

  property("integer keys: top-k equals the prefix of the self-join result") =
    forAllNoShrink(graph(Gen.choose(-4L, 4L), Gen.choose(-2, 2), Gen.choose(-1L, 2L))) {
      case (hk, bt) => topKIsPrefix(hk.toDF("src", "dst"), bt.toDF("src", "dst"))
    }
}
