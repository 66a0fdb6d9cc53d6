package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

import graft.diversity.{MapReduceCoreset, PointBlock}

/** The whole-operator Catalyst extension path (SURVEY.md §2.2 preference
  * order (c)): the composable-coreset map task (reference operator R5) as
  * a first-class plan node — custom `LogicalPlan` → planner `Strategy` →
  * physical `SparkPlan` — instead of an opaque `mapPartitions` lambda. It
  * is the one coreset path: [[graft.operators.DiversityOps.coreset]]
  * collects its rows and `coreset_exec_k64` summarizes them. The operator
  * prints in `explain` as `CoresetExec k'=…`, Catalyst can prune/push below
  * it (the child is an ordinary resolved plan), and EXPLAIN-based tooling
  * (graft.Plans, PlanAuditSpec) can audit it like any built-in operator.
  *
  * Child contract: exactly two columns, `(id bigint, embedding
  * array<float>)`, in `p` partitions where partition r holds exactly the
  * residue class `id % p == r` — what `Dataset.repartitionById(p,
  * pmod(id, p))` delivers through an ordinary `ShuffleExchangeExec`. (A
  * `repartition(p, pmod(id, p))` instead HASHES the residue and lumps
  * classes — the r8 defect — which breaks the covering condition the
  * composable coreset's p-invariance rests on.) The exec checks the
  * contract on every row. Output: `(id, center, weight)` — ≤ k′ kernel
  * rows per residue class, each carrying its delegate count.
  */
case class CoresetPlan(child: LogicalPlan, kPrime: Int, p: Int, output: Seq[Attribute])
    extends UnaryNode {
  // The kernel rows are NEW attributes, not passthroughs of the child's —
  // declaring them produced is what satisfies CheckAnalysis's
  // missing-input rule (the same contract Generate/Range declare).
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  // The kernel CONSUMES every child column even though none appears in an
  // expression — without this, ColumnPruning sees zero references and
  // prunes (id, embedding) out from under the fold (observed as a
  // zero-column child feeding getLong(0): memory-unsafe reads, JVM crash).
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): CoresetPlan =
    copy(child = newChild)
}

object CoresetPlan {
  def apply(child: LogicalPlan, kPrime: Int, p: Int): CoresetPlan =
    CoresetPlan(child, kPrime, p, Seq(
      AttributeReference("id", LongType, nullable = false)(),
      AttributeReference("center", ArrayType(FloatType, containsNull = false), nullable = false)(),
      AttributeReference("weight", LongType, nullable = false)()))
}

/** Planner rule: one logical coreset node → one physical exec node. */
object CoresetStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CoresetPlan(child, kPrime, p, out) => CoresetExec(planLater(child), kPrime, p, out) :: Nil
    case _ => Nil
  }
}

/** Physical operator: per-residue-class GMM(k′) + delegate weighting over
  * the child's `id % p` partitions (see [[CoresetPlan]]). No driver
  * involvement; the composable-coreset theorem is exactly the license to
  * fold each residue class independently. Each row's floats are copied
  * into one float block ([[PointBlock]], sorted by id once all rows are
  * in, then laid out in tiles of L points for the SIMD distance scan), so
  * a task holds its partition once, as floats, plus O(k′) output.
  */
case class CoresetExec(child: SparkPlan, kPrime: Int, p: Int, output: Seq[Attribute])
    extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet

  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    // Belt-and-braces for the pruning class of bug: fail loudly if the
    // child ever stops delivering the two-column (id, embedding) contract
    // (a zero-column child here once meant memory-unsafe getLong reads).
    require(child.output.length == 2,
      s"CoresetExec child must deliver (id, embedding); got ${child.output}")
    val (k, parts, schema) = (kPrime, p, output)
    child.execute().mapPartitionsWithIndex { (part, rows) =>
      val block = new PointBlock.Builder
      while (rows.hasNext) {
        val r = rows.next()
        val id = r.getLong(0)
        // A coalesced or split exchange would silently mix residue classes.
        require(Math.floorMod(id, parts.toLong) == part,
          s"CoresetExec: vec_id $id is in partition $part, not in its id % $parts class")
        block.add(id, if (r.isNullAt(1)) null else r.getArray(1).toFloatArray())
      }
      // Emit UNSAFE rows — the inter-operator row contract (exchanges and
      // several consumers cast to UnsafeRow).
      val toUnsafe = UnsafeProjection.create(schema, schema)
      MapReduceCoreset.localCoreset(block.result(), k).iterator.map { wp =>
        toUnsafe(new GenericInternalRow(Array[Any](
          wp.id, new GenericArrayData(wp.vec), wp.weight))).copy(): InternalRow
      }
    }
  }

  override def simpleString(maxFields: Int): String = s"CoresetExec k'=$kPrime p=$p"

  override protected def withNewChildInternal(newChild: SparkPlan): CoresetExec =
    copy(child = newChild)
}
