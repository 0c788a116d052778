package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types._

/** Whole-operator custom plan: brute-force cosine top-k join of a query
  * relation against a broadcastable index relation — the full custom
  * stack (LogicalPlan → Strategy → SparkPlan) from SURVEY.md §0's
  * preference ladder, used where composing built-ins is measurably
  * wasteful.
  *
  * The DataFrame composition of this operator
  * ([[graft.llm.Similarity.s01BruteForceTopK]]) must materialize all
  * n·m candidate rows through a BroadcastNestedLoopJoin and then
  * shuffle+sort them for the row_number window. This physical operator
  * keeps the index in a broadcast (like a BroadcastHashJoin build side),
  * streams the query partitions once, and maintains a bounded k-heap per
  * query row — no candidate materialization, no shuffle, no sort. Same
  * answer, O(n·m) compute, O(queries·k) output, zero exchanges.
  *
  * Input contract (enforced by [[CosineTopK.topK]]): both children
  * produce exactly `(id: bigint, vec: array<float>)`; zero-norm vectors
  * are excluded on both sides (cosine undefined).
  */
case class CosineTopKPlan(queries: LogicalPlan, index: LogicalPlan, k: Int,
    // output lives in the constructor so plan copies (dedup rules, child
    // rewrites) keep the same expression ids the parent operators resolved
    override val output: Seq[Attribute] = CosineTopKPlan.freshOutput())
    extends BinaryNode {

  override def left: LogicalPlan = queries
  override def right: LogicalPlan = index

  // all four output attributes originate here, not in the children
  override def producedAttributes: AttributeSet = AttributeSet(output)

  // the kernel reads every child column positionally; without this the
  // ColumnPruning rule sees an empty `references` and prunes both scans
  // to zero columns (observed as a SIGSEGV on the 0-field UnsafeRow)
  override def references: AttributeSet =
    AttributeSet(queries.output ++ index.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): CosineTopKPlan =
    copy(queries = newLeft, index = newRight)
}

object CosineTopKPlan {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("rn", IntegerType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("cosine", DoubleType, nullable = false)())
}

/** Optimizer rule: the top-k kernel reads exactly (id, vec) from each
  * child, so any further child columns are dead weight — but the node
  * declares `references` over its full child output (it must, or
  * ColumnPruning strips the scans to nothing). This rule does the
  * operator-specific pruning instead: wrap any wider child in a
  * two-column Project, which then lets the scans prune normally. */
object PruneCosineTopKChildren
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p: CosineTopKPlan
        if p.queries.output.length > 2 || p.index.output.length > 2 =>
      def prune(child: LogicalPlan): LogicalPlan =
        if (child.output.length > 2) Project(child.output.take(2), child)
        else child
      p.copy(queries = prune(p.queries), index = prune(p.index))
  }
}

object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CosineTopKPlan =>
      CosineTopKExec(planLater(p.queries), planLater(p.index), p.k,
        p.output) :: Nil // reuse the logical output ids verbatim
    case _ => Nil
  }
}

case class CosineTopKExec(left: SparkPlan, right: SparkPlan, k: Int,
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    // Build side: collect + broadcast (id, vec, norm) — same lifecycle
    // as a broadcast-hash-join build. Scale guard: this operator is for
    // index sides that fit an executor, e.g. one IVF cell or a
    // centroid/codebook table.
    val indexData = right.executeCollect().flatMap { row =>
      val vec = row.getArray(1).toFloatArray()
      var s = 0.0
      var i = 0
      while (i < vec.length) { s += vec(i).toDouble * vec(i); i += 1 }
      val norm = math.sqrt(s)
      if (norm > 0) Some((row.getLong(0), vec, norm)) else None
    }
    val bc = sparkContext.broadcast(indexData)

    // locals only in the task closure — never capture the plan tree
    val kLocal = k
    val outTypes = output.map(_.dataType).toArray
    left.execute().mapPartitions { iter =>
      val k = kLocal
      val proj = UnsafeProjection.create(outTypes)
      val rowBuf = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(4)
      iter.flatMap { qRow =>
        val qid = qRow.getLong(0)
        val qv = qRow.getArray(1).toFloatArray()
        var qs = 0.0
        var i = 0
        while (i < qv.length) { qs += qv(i).toDouble * qv(i); i += 1 }
        val qn = math.sqrt(qs)
        if (qn == 0) Iterator.empty
        else {
          // bounded top-k: parallel arrays kept sorted desc-cos, asc-id
          val topIds = new Array[Long](k)
          val topCos = new Array[Double](k)
          var filled = 0
          val index = bc.value
          var j = 0
          while (j < index.length) {
            val (nid, nv, nn) = index(j)
            if (nid != qid) {
              var d = 0.0
              var t = 0
              val len = math.min(qv.length, nv.length)
              while (t < len) { d += qv(t).toDouble * nv(t); t += 1 }
              val cos = d / (qn * nn)
              if (filled < k || cos > topCos(filled - 1) ||
                (cos == topCos(filled - 1) && nid < topIds(filled - 1))) {
                // insertion into the sorted prefix
                var pos = math.min(filled, k - 1)
                while (pos > 0 && (topCos(pos - 1) < cos ||
                  (topCos(pos - 1) == cos && topIds(pos - 1) > nid))) {
                  topCos(pos) = topCos(pos - 1)
                  topIds(pos) = topIds(pos - 1)
                  pos -= 1
                }
                topCos(pos) = cos
                topIds(pos) = nid
                if (filled < k) filled += 1
              }
            }
            j += 1
          }
          (0 until filled).iterator.map { r =>
            rowBuf.update(0, qid)
            rowBuf.update(1, r + 1)
            rowBuf.update(2, topIds(r))
            rowBuf.update(3, topCos(r))
            proj(rowBuf).copy(): InternalRow
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): CosineTopKExec =
    copy(left = newLeft, right = newRight)
}

object CosineTopK {

  /** Top-k cosine neighbors of every row in `queries` against `index`.
    * Both frames must expose `(id: bigint, vec: array<float>)` in that
    * positional order. */
  def topK(queries: DataFrame, index: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.VectorExpressions.register(spark)
    GraftSqlBridge.ofRows(spark,
      CosineTopKPlan(queries.queryExecution.analyzed,
        index.queryExecution.analyzed, k))
  }
}
