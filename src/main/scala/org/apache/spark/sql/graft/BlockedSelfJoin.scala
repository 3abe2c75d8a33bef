package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.unsafe.Platform
import graft.core.Shingles

/** Whole-operator Catalyst packaging of the fused triangle-blocked LSH
  * self-join (the reference's blocking-join pattern, its README.md:133-164,
  * in the explosive-bucket regime).
  *
  * Child contract, by POSITION (the logical constructor in
  * `graft.api.BandedLsh.bandedSelfJoinPairs` builds it from codegen'd
  * built-ins — posexplode of `lsh_min`, sequence/explode block replication,
  * `xxhash64`):
  *
  *   0 g    long  — 64-bit hash of (bk, h, blo, bhi): the one sort key
  *   1 bk   long  — (seedIndex << 32) | band: the blocking band identity
  *   2 h    long  — the band's MinHash value (bucket key within bk)
  *   3 blo  int   — min(salt, other): triangle block-pair low
  *   4 bhi  int   — max(salt, other): triangle block-pair high
  *   5 salt int   — this row's own block
  *   6 id   long  — row id
  *   7 text string — payload to shingle + verify
  *
  * Each (bk, h, blo, bhi) group receives every bucket member whose block
  * touches the pair, runs the native pairwise merge-scan Jaccard loop, and
  * emits (id_a, id_b, sim) with sim > threshold. Equality with the README's
  * relational join form is spec-pinned (PipelineOpsSpec). At one block
  * (blo = bhi = salt = 0) the groups are the plain buckets: this is how
  * `nearDupPairs` runs.
  *
  * The child is clustered and sorted on `g` alone, not on the four group
  * columns: with one LongType key Spark's SortExec takes its radix-sort
  * path (the 8-byte prefix decides every comparison), and the exec splits
  * each run of equal `g` into its groups by the full key, so a hash
  * collision costs a local sort of the run, never a wrong group. Measured
  * on the benchmark's `dedup_batch` (4-vCPU VM; wall is the whole pass, so
  * it includes `dupClusters` and the short-key join; stage CPU is the
  * exec's stage of `nearDupPairs` — shuffle read, sort, group loop,
  * partial distinct — in the timed passes of one event-logged run):
  *   - sorted on (bk, h, blo, bhi): median 3.57 s wall over 10 runs, the
  *     stage 3.9-4.2 executor CPU-s. The sort prefix is `bk`, 8 values, so
  *     almost every comparison fell through to the 4-column row comparator
  *     (TimSort's merges on top of the profile);
  *   - the same four keys with `h` first, a prefix that decides most
  *     comparisons but still TimSort: 3.12-3.39 s over 3 runs, the stage
  *     2.8 CPU-s — kept as a negative result;
  *   - the one hash key (this exec, which also copies each run into reused
  *     primitive buffers instead of per-row arrays): median 2.79 s over 10
  *     runs, the stage 2.3-2.35 CPU-s.
  *
  * Why a custom operator instead of groupByKey.flatMapGroups (the previous
  * shape): the semantics — "compare all pairs WITHIN a group, emit a
  * different schema" — have no relational equivalent short of materializing
  * every candidate pair through join machinery (~2 µs/pair vs the 156 ns
  * kernel, `core.jaccard_ns_per_pair` in perfbench: 129-179 ns over four
  * traced `dedup_batch` runs on the same VM), and the flatMapGroups
  * encoding moved every row through object (de)serialization. This exec
  * consumes UnsafeRows directly, streams one sorted run at a time (the child
  * sort is external/spillable, so memory is bounded by the largest single
  * block-pair group — controlled by numBlocks — not by partition size), and
  * reports SQL metrics (groups, raw comparisons, output rows) in the
  * UI/explain.
  */
case class BlockedSelfJoin(
    ngramWidth: Int,
    threshold: Double,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  // outputs are NEW attributes (created once at construction so exprIds
  // survive plan transforms); all child columns are consumed positionally
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): BlockedSelfJoin =
    copy(child = newChild)
}

object BlockedSelfJoin {
  /** Fresh output attributes for a new node. */
  def outputAttrs(): Seq[Attribute] = Seq(
    AttributeReference("id_a", LongType, nullable = false)(),
    AttributeReference("id_b", LongType, nullable = false)(),
    AttributeReference("sim", DoubleType, nullable = false)())
}

/** Planner rule: [[BlockedSelfJoin]] → [[BlockedSelfJoinExec]]. Installed by
  * `graft.sql.GraftExtensions` (injectPlannerStrategy) and by
  * `LshFunctions.register` (experimental.extraStrategies). */
object BlockedSelfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BlockedSelfJoin(w, t, out, child) =>
      BlockedSelfJoinExec(w, t, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class BlockedSelfJoinExec(
    ngramWidth: Int,
    threshold: Double,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  // outputs are produced here, not drawn from the child — without this the
  // plan printer flags the node's "missing inputs" with a `!`
  override def producedAttributes: AttributeSet = AttributeSet(output)

  private def groupHash = child.output.head

  // every row of one group hash in one partition, sorted on that hash so
  // the exec streams run-by-run; EnsureRequirements inserts the external
  // (spillable) sort, and with one LongType key it is the radix sort
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupHash :: Nil) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(groupHash, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "bucket block-pair groups"),
    "numComparisons" -> SQLMetrics.createMetric(sparkContext, "pairwise kernel comparisons"))

  protected override def doExecute(): RDD[InternalRow] = {
    val w = ngramWidth
    val t = threshold
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    val numComparisons = longMetric("numComparisons")
    child.execute().mapPartitions(it =>
      new BlockedPairIterator(it, w, t, numOutputRows, numGroups, numComparisons))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BlockedSelfJoinExec =
    copy(child = newChild)
}

/** The exec's loop over one partition sorted on the group hash: read a run
  * of rows with equal hash, split it into its (bk, h, blo, bhi) groups (one
  * group unless two groups' hashes collide), verify each group, and emit
  * its passing pairs. Memory is bounded by the largest run.
  *
  * Allocation-free apart from the kernel's shingle sets: the run lives in
  * reusable primitive columns (UTF-8 bytes copied into one arena, not one
  * `getBytes` array per row) and the pairs in reusable primitive output
  * columns. Shingling is lazy: most band rows sit in singleton buckets, so
  * only groups that can emit a pair are shingled (eager shingling measured
  * in `nearDupPairs`). Metric updates are batched once per group (a
  * per-comparison `SQLMetric +=` is a virtual call × tens of millions of
  * pairs). */
private final class BlockedPairIterator(
    in: Iterator[InternalRow], w: Int, t: Double,
    numOutputRows: SQLMetric, numGroups: SQLMetric, numComparisons: SQLMetric)
  extends Iterator[InternalRow] {

  // the sorter hands out one reused row: everything read is copied out
  // before the next `in.next()`
  private var head: InternalRow = if (in.hasNext) in.next() else null

  // the current run, one slot per row; row i's text is
  // text[textEnd(i - 1) until textEnd(i)]
  private var n = 0
  private var bk = new Array[Long](16)
  private var h = new Array[Long](16)
  private var blo = new Array[Int](16)
  private var bhi = new Array[Int](16)
  private var salt = new Array[Int](16)
  private var id = new Array[Long](16)
  private var textEnd = new Array[Int](16)
  private var text = new Array[Byte](4096)
  // the run's row indices in group order, then one group's two sides
  private var order = new Array[Int](16)
  private var sideA = new Array[Int](16)
  private var sideB = new Array[Int](16)
  private var setsA = new Array[Array[Int]](16)
  private var setsB = new Array[Array[Int]](16)
  // passing pairs of the current run, emitted from outPos
  private var outA = new Array[Long](64)
  private var outB = new Array[Long](64)
  private var outSim = new Array[Double](64)
  private var outN = 0
  private var outPos = 0
  private val writer = new UnsafeRowWriter(3)

  override def hasNext: Boolean = {
    while (outPos == outN && head != null) {
      outN = 0; outPos = 0
      readRun()
      splitRun()
      numOutputRows += outN
    }
    outPos < outN
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    writer.reset(); writer.zeroOutNullBytes()
    writer.write(0, outA(outPos)); writer.write(1, outB(outPos)); writer.write(2, outSim(outPos))
    outPos += 1
    writer.getRow
  }

  private def readRun(): Unit = {
    n = 0
    val g = head.getLong(0)
    while (head != null && head.getLong(0) == g) {
      append(head)
      head = if (in.hasNext) in.next() else null
    }
  }

  private def append(r: InternalRow): Unit = {
    if (n == id.length) {
      val m = 2 * n
      bk = java.util.Arrays.copyOf(bk, m); h = java.util.Arrays.copyOf(h, m)
      blo = java.util.Arrays.copyOf(blo, m); bhi = java.util.Arrays.copyOf(bhi, m)
      salt = java.util.Arrays.copyOf(salt, m); id = java.util.Arrays.copyOf(id, m)
      textEnd = java.util.Arrays.copyOf(textEnd, m)
    }
    bk(n) = r.getLong(1); h(n) = r.getLong(2); blo(n) = r.getInt(3); bhi(n) = r.getInt(4)
    salt(n) = r.getInt(5); id(n) = r.getLong(6)
    val s = r.getUTF8String(7)
    val from = if (n == 0) 0 else textEnd(n - 1)
    val end = from + s.numBytes
    if (end > text.length)
      text = java.util.Arrays.copyOf(text, math.max(end, 2 * text.length))
    s.writeToMemory(text, Platform.BYTE_ARRAY_OFFSET + from)
    textEnd(n) = end
    n += 1
  }

  private def sameKey(i: Int, j: Int): Boolean =
    bk(i) == bk(j) && h(i) == h(j) && blo(i) == blo(j) && bhi(i) == bhi(j)

  /** Walk the run group by group. Rows of colliding groups interleave in
    * the hash sort, so a run holding more than one key is ordered by the
    * full key first (rare: a 64-bit collision inside one partition). */
  private def splitRun(): Unit = {
    if (order.length < n) order = new Array[Int](id.length)
    var mixed = false
    var i = 0
    while (i < n) { order(i) = i; mixed ||= !sameKey(0, i); i += 1 }
    if (mixed) {
      val byKey = order.take(n).sortBy(k => (bk(k), h(k), blo(k), bhi(k)))
      System.arraycopy(byKey, 0, order, 0, n)
    }
    var s = 0
    while (s < n) {
      var e = s + 1
      while (e < n && sameKey(order(s), order(e))) e += 1
      group(s, e)
      s = e
    }
  }

  /** One group, `order[s until e)`: split it into its two triangle sides
    * (one side when blo == bhi), shingle them if the group can emit a pair,
    * and run the pairwise merge-scan loop. */
  private def group(s: Int, e: Int): Unit = {
    numGroups += 1
    val lo = blo(order(s)); val hi = bhi(order(s))
    if (sideA.length < e - s) {
      sideA = new Array[Int](order.length); sideB = new Array[Int](order.length)
      setsA = new Array[Array[Int]](order.length); setsB = new Array[Array[Int]](order.length)
    }
    var na = 0; var nb = 0
    var i = s
    while (i < e) {
      val k = order(i)
      if (salt(k) == lo) { sideA(na) = k; na += 1 }
      else if (salt(k) == hi) { sideB(nb) = k; nb += 1 }
      i += 1
    }
    val canPair = if (lo == hi) na >= 2 else na > 0 && nb > 0
    if (!canPair) return
    shingle(sideA, setsA, na)
    var comparisons = 0L
    if (lo == hi) {
      i = 0
      while (i < na) {
        val idI = id(sideA(i)); val setI = setsA(i)
        var j = i + 1
        while (j < na) {
          val sim = Shingles.jaccardSorted(setI, setsA(j))
          comparisons += 1
          if (sim > t) emit(idI, id(sideA(j)), sim)
          j += 1
        }
        i += 1
      }
    } else {
      shingle(sideB, setsB, nb)
      i = 0
      while (i < na) {
        val idI = id(sideA(i)); val setI = setsA(i)
        var j = 0
        while (j < nb) {
          val idJ = id(sideB(j))
          if (idI != idJ) {
            val sim = Shingles.jaccardSorted(setI, setsB(j))
            comparisons += 1
            if (sim > t) emit(idI, idJ, sim)
          }
          j += 1
        }
        i += 1
      }
    }
    numComparisons += comparisons
  }

  private def shingle(side: Array[Int], sets: Array[Array[Int]], m: Int): Unit = {
    var i = 0
    while (i < m) {
      val k = side(i)
      val from = if (k == 0) 0 else textEnd(k - 1)
      sets(i) = Shingles.sortedShinglesUtf8(text, from, textEnd(k) - from, w)
      i += 1
    }
  }

  private def emit(x: Long, y: Long, sim: Double): Unit = {
    if (outN == outA.length) {
      outA = java.util.Arrays.copyOf(outA, 2 * outN); outB = java.util.Arrays.copyOf(outB, 2 * outN)
      outSim = java.util.Arrays.copyOf(outSim, 2 * outN)
    }
    if (x < y) { outA(outN) = x; outB(outN) = y } else { outA(outN) = y; outB(outN) = x }
    outSim(outN) = sim
    outN += 1
  }
}
