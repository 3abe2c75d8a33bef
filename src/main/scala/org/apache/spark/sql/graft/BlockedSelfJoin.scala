package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Whole-operator Catalyst packaging of the fused triangle-blocked LSH
  * self-join (the reference's blocking-join pattern,
  * /root/reference/README.md:133-164, in the explosive-bucket regime).
  *
  * Child contract, by POSITION (the logical constructor in
  * `graft.api.BandedLsh.bandedSelfJoinPairs` builds it from codegen'd
  * built-ins — posexplode of `lsh_min`, sequence/explode block replication):
  *
  *   0 bk   long  — (seedIndex << 32) | band: the blocking band identity
  *   1 h    long  — the band's MinHash value (bucket key within bk)
  *   2 blo  int   — min(salt, other): triangle block-pair low
  *   3 bhi  int   — max(salt, other): triangle block-pair high
  *   4 salt int   — this row's own block
  *   5 id   long  — row id
  *   6 text string — payload to shingle + verify
  *
  * Each (bk, h, blo, bhi) group receives every bucket member whose block
  * touches the pair, runs the native pairwise merge-scan Jaccard loop, and
  * emits (id_a, id_b, sim) with sim > threshold. Equality with the README's
  * relational join form is spec-pinned (PipelineOpsSpec). At one block
  * (blo = bhi = salt = 0) the groups are the plain buckets: this is how
  * `nearDupPairs` runs.
  *
  * Why a custom operator instead of groupByKey.flatMapGroups (the previous
  * shape): the semantics — "compare all pairs WITHIN a group, emit a
  * different schema" — have no relational equivalent short of materializing
  * every candidate pair through join machinery (~2 µs/pair vs the ~70 ns
  * kernel), and the flatMapGroups encoding moved every row through
  * object (de)serialization. This exec consumes UnsafeRows directly,
  * streams one sorted group at a time (the child sort is external/spillable,
  * so memory is bounded by the largest single block-pair group — controlled
  * by numBlocks — not by partition size), and reports SQL metrics
  * (groups, raw comparisons, output rows) in the UI/explain.
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

  private def groupKeys = child.output.take(4)

  // all rows of one (bk, h, blo, bhi) group in one partition, sorted so the
  // exec can stream group-by-group; EnsureRequirements inserts the exchange
  // + external (spillable) sort
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(groupKeys.map(SortOrder(_, Ascending)))

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
    child.execute().mapPartitions { it =>
      val in = it.buffered
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        LongType, LongType, DoubleType))
      val row = new GenericInternalRow(3)

      new Iterator[InternalRow] {
        private var pending: Iterator[(Long, Long, Double)] = Iterator.empty

        override def hasNext: Boolean = {
          while (!pending.hasNext && in.hasNext) pending = nextGroup()
          pending.hasNext
        }

        override def next(): InternalRow = {
          val (a, b, s) = pending.next()
          row.setLong(0, a); row.setLong(1, b); row.update(2, s)
          numOutputRows += 1
          proj(row)
        }

        /** Consume one full sorted key run; return its passing pairs.
          * Hot loop: primitive parallel arrays (no tuple boxing), metric
          * updates batched once per group (a per-comparison `SQLMetric +=`
          * is a virtual call × tens of millions of pairs). Shingling is
          * lazy: most band rows sit in singleton buckets, so members are
          * buffered as (id, UTF-8 bytes) and shingled only when the group
          * can emit a pair (eager shingling measured in `nearDupPairs`). */
        private def nextGroup(): Iterator[(Long, Long, Double)] = {
          val first = in.head
          val bk = first.getLong(0); val h = first.getLong(1)
          val blo = first.getInt(2); val bhi = first.getInt(3)
          val aIds = new scala.collection.mutable.ArrayBuffer[Long]
          val aTexts = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
          val bIds = new scala.collection.mutable.ArrayBuffer[Long]
          val bTexts = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
          var continue = true
          while (continue && in.hasNext) {
            val r = in.head
            if (r.getLong(0) != bk || r.getLong(1) != h ||
                r.getInt(2) != blo || r.getInt(3) != bhi) continue = false
            else {
              in.next()
              val salt = r.getInt(4)
              val id = r.getLong(5)
              val txt = r.getUTF8String(6).getBytes
              if (salt == blo) { aIds += id; aTexts += txt }
              if (salt == bhi && blo != bhi) { bIds += id; bTexts += txt }
            }
          }
          numGroups += 1
          val canPair = if (blo == bhi) aIds.length >= 2 else aIds.nonEmpty && bIds.nonEmpty
          if (!canPair) return Iterator.empty
          def shingled(texts: scala.collection.mutable.ArrayBuffer[Array[Byte]]) =
            texts.iterator.map(b => graft.core.Shingles.sortedShinglesUtf8(b, 0, b.length, w)).toArray
          val ida = aIds.toArray; val seta = shingled(aTexts)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var comparisons = 0L
          if (blo == bhi) {
            var i = 0
            while (i < ida.length) {
              val idI = ida(i); val setI = seta(i)
              var j = i + 1
              while (j < ida.length) {
                val sim = graft.core.Shingles.jaccardSorted(setI, seta(j))
                comparisons += 1
                if (sim > t) {
                  val y = ida(j)
                  out += (if (idI < y) (idI, y, sim) else (y, idI, sim))
                }
                j += 1
              }
              i += 1
            }
          } else {
            val idb = bIds.toArray; val setb = shingled(bTexts)
            var i = 0
            while (i < ida.length) {
              val idI = ida(i); val setI = seta(i)
              var j = 0
              while (j < idb.length) {
                if (idI != idb(j)) {
                  val sim = graft.core.Shingles.jaccardSorted(setI, setb(j))
                  comparisons += 1
                  if (sim > t) {
                    val y = idb(j)
                    out += (if (idI < y) (idI, y, sim) else (y, idI, sim))
                  }
                }
                j += 1
              }
              i += 1
            }
          }
          numComparisons += comparisons
          out.iterator
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BlockedSelfJoinExec =
    copy(child = newChild)
}
