package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per key as a first-class operator (the charter's
  * option (c): LogicalPlan + Strategy + SparkPlan, registered through
  * GraftExtensions).
  *
  * The built-in formulation — `row_number().over(partitionBy(keys)
  * .orderBy(ord)) <= k` — pays a full sort of every partition's rows
  * before discarding all but k. This operator keeps a bounded heap
  * per key instead: one hash-partition shuffle on the keys (same as
  * the window), then O(n log k) per partition with O(keys·k) memory,
  * no sort spill. At 100 TB with small k, the sort the window does is
  * pure waste — this is the operator top-k similarity search wants.
  *
  * The physical plan is TWO stages, mirroring partial aggregation:
  * a map-side [[PartialTopKPerKeyExec]] runs the same bounded-heap
  * pass on each UNSHUFFLED child partition, so at most keys·k rows
  * per partition reach the exchange; the final [[TopKPerKeyExec]]
  * re-reduces after the key shuffle. Without the partial step the
  * exchange carries the full scored stream — the r10 sf10 smoke's
  * brute-force recall baseline shuffled ~5·10¹⁰ candidate rows
  * (corpus × broadcast queries) straight into the heap's required
  * distribution and ENOSPC'd; with it, each map partition emits only
  * its local winners (queries×k rows) and the shuffle is bounded by
  * partitions·keys·k regardless of the scored stream's size.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

private[plans] object TopKHeapPass {
  /** One bounded-heap pass over a partition: per key, keep the best
    * k rows under `sortOrder`. Emits best-first per key. `maxKeys`
    * bounds the in-memory key map: when a partition's distinct-key
    * count exceeds it, the current winners are emitted and the map
    * reset — correct because a downstream (final) pass re-reduces,
    * exactly like partial aggregation's spill-free fallback. The
    * final pass runs after a ClusteredDistribution shuffle, so every
    * occurrence of a key is in one partition; its flushes can only
    * split a key's rows if that key alone overflows the map, which
    * maxKeys ≫ 1 prevents (a flush resets the COUNT of keys, and a
    * single key never exceeds k retained rows).
    */
  def run(iter: Iterator[InternalRow], keyExprs: Seq[Expression],
      childOutput: Seq[Attribute], sortOrder: Seq[SortOrder], limit: Int,
      maxKeys: Int, maxBytes: Long): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyExprs, childOutput)
    val ord = GenerateOrdering.generate(sortOrder, childOutput)
    // per key: a bounded "worst-first" heap — head is the row that
    // leaves first when a better one arrives
    val worstFirst = ord.reverse
    val heaps = new java.util.HashMap[UnsafeRow,
      java.util.PriorityQueue[UnsafeRow]]()
    // retained-copy accounting: each kept row (and key) is an
    // UnsafeRow COPY held until flush, so wide rows (e.g. scored
    // candidates carrying two embedding vectors, ~600 B each) can
    // dwarf the key-COUNT bound — corpus-as-queries kNN puts
    // near-N distinct keys in one partition, and maxKeys alone
    // would retain keys·k·rowBytes ≈ multi-GB per task. maxBytes
    // caps the actual footprint the same way hash aggregate's
    // partial map spills on memory, not on entry count.
    var retainedBytes = 0L
    def drain(): Iterator[UnsafeRow] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
      heaps.values().forEach { h =>
        val rows = new Array[UnsafeRow](h.size())
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 } // emit best-first
        out ++= rows
      }
      heaps.clear()
      retainedBytes = 0L
      out.iterator
    }
    new Iterator[InternalRow] {
      private var pending: Iterator[InternalRow] = Iterator.empty
      private def advance(): Unit = {
        while (!pending.hasNext && iter.hasNext) {
          val row = iter.next().asInstanceOf[UnsafeRow]
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            if (heaps.size() >= maxKeys) pending = drain()
            heap = new java.util.PriorityQueue[UnsafeRow](limit + 1, worstFirst)
            val keyCopy = key.copy()
            heaps.put(keyCopy, heap)
            retainedBytes += keyCopy.getSizeInBytes
          }
          if (heap.size() < limit) {
            val copy = row.copy()
            heap.add(copy)
            retainedBytes += copy.getSizeInBytes
          } else if (ord.compare(row, heap.peek()) < 0) {
            retainedBytes -= heap.poll().getSizeInBytes
            val copy = row.copy()
            heap.add(copy)
            retainedBytes += copy.getSizeInBytes
          }
          // byte-budget flush AFTER the add: emit current winners and
          // reset — correct for the partial pass because the final
          // pass re-reduces (same argument as the maxKeys flush); the
          // final pass runs with maxBytes = Long.MaxValue so a key is
          // never split across flushes
          if (!pending.hasNext && retainedBytes >= maxBytes)
            pending = drain()
        }
        if (!pending.hasNext && !iter.hasNext && !heaps.isEmpty)
          pending = drain()
      }
      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): InternalRow = { advance(); pending.next() }
    }
  }
}

/** Map-side partial top-k: same heap pass, no required distribution —
  * caps what the exchange below [[TopKPerKeyExec]] has to carry at
  * keys·k rows per input partition. */
case class PartialTopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (childOutput, keyExprs, sortOrder, limit) = (child.output, keys, order, k)
    // maxKeys bounds partial-state ENTRY count on high-cardinality
    // keys; maxBytes bounds the actual retained-copy footprint (the
    // binding cap when rows are wide — embedding-carrying scored
    // streams hit the byte budget long before the key count). 64 MB
    // default ≈ a hash aggregate's partial map before it spills.
    // Read on the driver (SQLConf is thread-local) and captured.
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxKeys = conf
      .getConfString("spark.graft.topk.partialMaxKeys", (1 << 20).toString).toInt
    val maxBytes = conf
      .getConfString("spark.graft.topk.partialMaxBytes", (64L << 20).toString).toLong
    child.execute().mapPartitions { iter =>
      TopKHeapPass.run(iter, keyExprs, childOutput, sortOrder, limit, maxKeys,
        maxBytes)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerKeyExec =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (childOutput, keyExprs, sortOrder, limit) = (child.output, keys, order, k)
    child.execute().mapPartitions { iter =>
      // post-shuffle every occurrence of a key is local; the flushes
      // are disabled (maxKeys/maxBytes unbounded) so each key reduces
      // exactly once — the partial stage already bounded this input
      // to keys·k rows per upstream partition
      TopKHeapPass.run(iter, keyExprs, childOutput, sortOrder, limit,
        maxKeys = Int.MaxValue, maxBytes = Long.MaxValue)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy (injected via GraftExtensions). */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k,
        PartialTopKPerKeyExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Column API: keep the top `k` rows per key, best-first by
    * `order` (include a unique tie-break column for deterministic
    * results). Requires the session to carry GraftExtensions (e.g.
    * graft.Engine.session) — the planner needs TopKPerKeyStrategy. */
  def topKPerKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    Strategies.register(spark, TopKPerKeyStrategy)
    val plan = df.queryExecution.analyzed
    val keys = keyCols.map(c => org.apache.spark.sql.GraftBridge.expression(spark, c))
    val order = orderCols.map { c =>
      org.apache.spark.sql.GraftBridge.expression(spark, c) match {
        case s: SortOrder => s
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    org.apache.spark.sql.GraftBridge.ofRows(spark, TopKPerKey(keys, order, k, plan))
  }
}
