package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The first `k` cross-category pairs per partition of the flagship
  * interconnection query (J3), enumerated in J3's own sort order
  * instead of joined.
  *
  * Input: `(url, keyword, category)` triples, one per
  * `hasKeyword ⋈ belongsTo` row. Output: `(url1, category1, url2,
  * category2, shared_keyword)` for every two triples that share a
  * keyword, with `category1 ≠ category2` and `url1 < url2`
  * (`canonical`) or `url1 ≠ url2`.
  *
  * The keyword self-join builds Σ deg² pair rows to keep `k`. This
  * operator asks for its input clustered by keyword and sorted by
  * `(keyword, category, url)`, so each keyword's members arrive as
  * category runs of ascending urls. It walks them in exactly the
  * order `(category1, category2, url1, url2)`, binary-searching the
  * first `url2 > url1` of each category2 run in canonical mode, and
  * stops after `k` rows: keywords arrive in ascending order too, so
  * those are the partition's first `k` rows of the final order, and
  * the `TakeOrderedAndProject(k)` above merges the partitions. Work
  * is the sort, O(E log E), plus O(m²) category-run probes per
  * keyword with m categories, plus O(log E) per emitted row; memory
  * per task is one keyword's member list, never O(deg²).
  *
  * Exactness: urls, categories and keywords compare through Catalyst
  * orderings on the bound columns (strings as UTF-8 bytes, like the
  * final ORDER BY), never as JVM values. A duplicate triple counts
  * once per copy, as in the join, and its pairs stay adjacent in the
  * order. Triples with a null field are dropped, as the equi-joins and
  * `=!=` drop them. A link filed under two categories never pairs
  * with itself. `k = 0` emits nothing. Floating-point keywords must
  * not come here: hash partitioning would split `0.0` from `-0.0`,
  * which the join's normalized keys match.
  */
case class TopKPairs(
    url: Attribute,
    keyword: Attribute,
    category: Attribute,
    canonical: Boolean,
    k: Int,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  require(k >= 0, s"k must be non-negative, got $k")
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPairs =
    copy(child = newChild)
}

case class TopKPairsExec(
    url: Attribute,
    keyword: Attribute,
    category: Attribute,
    canonical: Boolean,
    k: Int,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyword :: Nil) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(keyword, category, url).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val (in, triple, pairMode, limit) =
      (child.output, Seq(url, keyword, category), canonical, k)
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions { iter =>
      PairEnumeration.run(iter, in, triple, pairMode, limit).map { row =>
        numOutputRows += 1
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPairsExec =
    copy(child = newChild)
}

private[plans] object PairEnumeration {
  /** One partition: `rows` clustered by keyword and sorted by
    * `(keyword, category, url)`; `triple` is `(url, keyword, category)`
    * among `input`. Emits at most `limit` pairs, lazily, one keyword's
    * member list in memory at a time. */
  def run(rows: Iterator[InternalRow], input: Seq[Attribute], triple: Seq[Attribute],
      canonical: Boolean, limit: Int): Iterator[InternalRow] = {
    val project = UnsafeProjection.create(triple, input)
    def ordering(i: Int) = GenerateOrdering.generate(SortOrder(triple(i), Ascending) :: Nil, triple)
    val (byUrl, byKeyword, byCategory) = (ordering(0), ordering(1), ordering(2))
    // (url1, keyword, category1) ++ (url2, keyword, category2) →
    // (url1, category1, url2, category2, shared_keyword)
    val emit = UnsafeProjection.create(Seq(0, 2, 3, 5, 1).map { i =>
      BoundReference(i, triple(i % 3).dataType, nullable = false)
    })
    val joined = new JoinedRow

    val members = rows.map(r => project(r)).filterNot(_.anyNull).map(_.copy()).buffered
    val keywords = new Iterator[ArrayBuffer[UnsafeRow]] {
      override def hasNext: Boolean = members.hasNext
      override def next(): ArrayBuffer[UnsafeRow] = {
        val group = ArrayBuffer(members.next())
        while (members.hasNext && byKeyword.compare(members.head, group.head) == 0)
          group += members.next()
        group
      }
    }

    def pairs(g: ArrayBuffer[UnsafeRow]): Iterator[InternalRow] = {
      // category runs: run r is g(starts(r) until starts(r + 1))
      val starts = (0 until g.length)
        .filter(i => i == 0 || byCategory.compare(g(i - 1), g(i)) != 0) :+ g.length
      val runs = starts.indices.init
      // first index in [lo, hi) whose url sorts after `u`
      def after(u: UnsafeRow, lo0: Int, hi0: Int): Int = {
        var (lo, hi) = (lo0, hi0)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (byUrl.compare(g(mid), u) <= 0) lo = mid + 1 else hi = mid
        }
        lo
      }
      for {
        r1 <- runs.iterator
        (lo1, hi1) = (starts(r1), starts(r1 + 1))
        r2 <- runs.iterator if r2 != r1
        (lo2, hi2) = (starts(r2), starts(r2 + 1))
        // one step per distinct url1; its copies all pair with one url2
        // before the next url2, or the order breaks on duplicate triples
        i <- (lo1 until hi1).iterator
          .filter(i => i == lo1 || byUrl.compare(g(i - 1), g(i)) != 0)
          .takeWhile(i => !canonical || byUrl.compare(g(i), g(hi2 - 1)) < 0)
        copies = after(g(i), i, hi1) - i
        j <- if (canonical) (after(g(i), lo2, hi2) until hi2).iterator
             else (lo2 until hi2).iterator.filter(j => byUrl.compare(g(i), g(j)) != 0)
        _ <- Iterator.range(0, copies)
      } yield emit(joined(g(i), g(j)))
    }

    keywords.flatMap(pairs).take(limit)
  }
}

/** Planner strategy (injected via GraftExtensions). */
object TopKPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPairs(url, keyword, category, canonical, k, output, child) =>
      TopKPairsExec(url, keyword, category, canonical, k, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPairs {
  /** `triples` has exactly the columns `(url, keyword, category)`; the
    * result has `url1, category1, url2, category2, shared_keyword` and
    * holds, per partition, the first `k` pairs of the J3 order. Put
    * `orderBy(...).limit(k)` on top for the global first `k`. */
  private[graft] def pairs(triples: DataFrame, canonical: Boolean, k: Int): DataFrame = {
    val spark = triples.sparkSession
    Strategies.register(spark, TopKPairsStrategy)
    val plan = triples.queryExecution.analyzed
    val Seq(url, keyword, category) = plan.output
    val output = Seq("url1" -> url, "category1" -> category, "url2" -> url,
      "category2" -> category, "shared_keyword" -> keyword).map { case (name, a) =>
      AttributeReference(name, a.dataType, nullable = false)()
    }
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      TopKPairs(url, keyword, category, canonical, k, output, plan))
  }
}

private[graft] object Strategies {
  /** Adds `strategy` to a session built without GraftExtensions.
    * `planner.strategies` is the planner's effective list (built-ins,
    * extension-injected, experimental), so on a session that carries
    * GraftExtensions (graft.Engine.session) this is a no-op and the
    * query path never mutates session state. */
  def register(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.sessionState.planner.strategies.contains(strategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy
    }
}
