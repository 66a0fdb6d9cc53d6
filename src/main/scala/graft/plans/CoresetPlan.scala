package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.{ArrayType, BinaryType, Decimal, FloatType, IntegerType, LongType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.diversity.{MapReduceCoreset, PointBlock}

/** The whole-operator Catalyst extension path (SURVEY.md §2.2 preference
  * order (c)): the composable-coreset map task (reference operator R5) as
  * a first-class plan node — custom `LogicalPlan` → planner `Strategy` →
  * physical `SparkPlan` — instead of an opaque `mapPartitions` lambda. It
  * is the coreset path of the embedding operators:
  * [[graft.operators.DiversityOps.coreset]] collects its rows and
  * `coreset_exec_k64` summarizes them. The document path
  * (`DiversityOps.diverseDocs`, behind `diverse_docs_k16` and
  * `curate_corpus_k16`) does not use it: it runs its own residue-class
  * GMM(32) under generalized Jaccard in a `mapPartitions`. The operator
  * prints in `explain` as `CoresetExec k'=…`, Catalyst can prune/push below
  * it (the child is an ordinary resolved plan), and EXPLAIN-based tooling
  * (graft.Plans, PlanAuditSpec) can audit it like any built-in operator.
  *
  * Child contract: the residue-class blocks of a [[CoresetPack]], `(r int,
  * ids binary, vecs binary)`, in `p` partitions where partition r holds
  * exactly the blocks of class `id % p == r` — what
  * `Dataset.repartitionById(p, r)` delivers through an ordinary
  * `ShuffleExchangeExec`. (A `repartition(p, r)` instead HASHES the
  * residue and lumps classes — the r8 defect — which breaks the covering
  * condition the composable coreset's p-invariance rests on.) The exec
  * checks the contract on every id. Output: `(id, center, weight)` — ≤ k′
  * kernel rows per residue class, each carrying its delegate count.
  */
case class CoresetPlan(child: LogicalPlan, kPrime: Int, p: Int, output: Seq[Attribute])
    extends UnaryNode {
  // The kernel rows are NEW attributes, not passthroughs of the child's —
  // declaring them produced is what satisfies CheckAnalysis's
  // missing-input rule (the same contract Generate/Range declare).
  override def producedAttributes: AttributeSet = outputSet
  // The kernel CONSUMES every child column even though none appears in an
  // expression — without this, ColumnPruning sees zero references and
  // prunes the blocks out from under the fold (observed as a zero-column
  // child feeding getLong(0): memory-unsafe reads, JVM crash).
  override def references: AttributeSet = child.outputSet
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

/** The map side of the coreset's one shuffle: the points `(id bigint,
  * embedding array<float>)` of its child, packed per input batch into one
  * block per residue class `r = id % p` present in the batch. A block is a
  * row `(r, ids, vecs)`: the class's ids in batch order as 8-byte longs,
  * and their float32 coordinates row-major, in the JVM's byte order (the
  * order `UnsafeRow` stores its fields in). So the exchange moves about
  * p rows per batch instead of one row per point, and both ends copy
  * each block in bulk. The pack checks each batch for a null or ragged
  * embedding, naming the vec_id.
  */
case class CoresetPack(child: LogicalPlan, p: Int, output: Seq[Attribute]) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  // Consumes both child columns, as CoresetPlan does.
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): CoresetPack =
    copy(child = newChild)
}

object CoresetPack {
  def apply(child: LogicalPlan, p: Int): CoresetPack =
    CoresetPack(child, p, Seq(
      AttributeReference("r", IntegerType, nullable = false)(),
      AttributeReference("ids", BinaryType, nullable = false)(),
      AttributeReference("vecs", BinaryType, nullable = false)()))
}

/** Planner rule: each logical coreset node → its physical exec node. */
object CoresetStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CoresetPlan(child, kPrime, p, out) => CoresetExec(planLater(child), kPrime, p, out) :: Nil
    case CoresetPack(child, p, out) => CoresetPackExec(planLater(child), p, out) :: Nil
    case _ => Nil
  }
}

/** Physical [[CoresetPack]]: columnar in and columnar out, so Spark's own
  * transitions place it directly on a vectorized scan (a row child gets a
  * `RowToColumnar` below it, and the exchange a `ColumnarToRow` above it,
  * over about p rows per batch). It keeps nothing across batches.
  */
case class CoresetPackExec(child: SparkPlan, p: Int, output: Seq[Attribute])
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override def references: AttributeSet = child.outputSet

  override def supportsColumnar: Boolean = true

  override protected def doExecute(): RDD[InternalRow] =
    throw new IllegalStateException(s"$nodeName is columnar only")

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    require(child.output.length == 2,
      s"CoresetPackExec child must deliver (id, embedding); got ${child.output}")
    val parts = p
    child.executeColumnar().mapPartitions(_.map(b => CoresetPackExec.pack(b, parts)))
  }

  override def simpleString(maxFields: Int): String = s"CoresetPack p=$p"

  override protected def withNewChildInternal(newChild: SparkPlan): CoresetPackExec =
    copy(child = newChild)
}

object CoresetPackExec {
  /** One batch's points as one block row per residue class present, in
    * class order. Two passes: the first checks each point and counts its
    * class, the second copies each point's id and floats into its class's
    * block.
    */
  private def pack(batch: ColumnarBatch, p: Int): ColumnarBatch = {
    val n = batch.numRows
    val (idCol, vecCol) = (batch.column(0), batch.column(1))
    val ids = new Array[Long](n)
    val cls = new Array[Int](n)
    val count = new Array[Int](p)
    var dim = -1
    var i = 0
    while (i < n) {
      require(!idCol.isNullAt(i), "CoresetPack: a point has a null vec_id")
      val id = idCol.getLong(i)
      require(!vecCol.isNullAt(i), s"vec_id $id has a null embedding")
      val len = vecCol.getArray(i).numElements
      if (dim < 0) dim = len
      require(len == dim,
        s"vec_id $id has an embedding of length $len, but vec_id ${ids(0)} has length $dim")
      ids(i) = id
      cls(i) = Math.floorMod(id, p.toLong).toInt
      count(cls(i)) += 1
      i += 1
    }
    val idBytes = count.map(c => new Array[Byte](8 * c))
    val vecBytes = count.map(c => new Array[Byte](4 * c * math.max(dim, 0)))
    val filled = new Array[Int](p)
    i = 0
    while (i < n) {
      val (c, j) = (cls(i), filled(cls(i)))
      Platform.putLong(idBytes(c), Platform.BYTE_ARRAY_OFFSET + 8L * j, ids(i))
      val vec = vecCol.getArray(i)
      val at = Platform.BYTE_ARRAY_OFFSET + 4L * j * dim
      var t = 0
      while (t < dim) { // a null coordinate reads 0, as it does from an UnsafeRow
        Platform.putFloat(vecBytes(c), at + 4L * t, if (vec.isNullAt(t)) 0f else vec.getFloat(t))
        t += 1
      }
      filled(c) = j + 1
      i += 1
    }
    val present = (0 until p).filter(count(_) > 0).toArray
    val r = new OnHeapColumnVector(present.length, IntegerType)
    present.indices.foreach(row => r.putInt(row, present(row)))
    new ColumnarBatch(Array[ColumnVector](
      r, new BytesColumn(present.map(idBytes)), new BytesColumn(present.map(vecBytes))), present.length)
  }
}

/** A binary column over the given arrays, which it hands out uncopied
  * (`OnHeapColumnVector.putByteArray` copies each block in, and its
  * `getBinary` copies it out again).
  */
private final class BytesColumn(values: Array[Array[Byte]]) extends ColumnVector(BinaryType) {
  override def getBinary(i: Int): Array[Byte] = values(i)
  override def isNullAt(i: Int): Boolean = false
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def close(): Unit = ()
  private def bytesOnly = throw new UnsupportedOperationException("a block column holds bytes only")
  override def getBoolean(i: Int): Boolean = bytesOnly
  override def getByte(i: Int): Byte = bytesOnly
  override def getShort(i: Int): Short = bytesOnly
  override def getInt(i: Int): Int = bytesOnly
  override def getLong(i: Int): Long = bytesOnly
  override def getFloat(i: Int): Float = bytesOnly
  override def getDouble(i: Int): Double = bytesOnly
  override def getArray(i: Int): ColumnarArray = bytesOnly
  override def getMap(i: Int): ColumnarMap = bytesOnly
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = bytesOnly
  override def getUTF8String(i: Int): UTF8String = bytesOnly
  override def getChild(i: Int): ColumnVector = bytesOnly
}

/** Physical operator: per-residue-class GMM(k′) + delegate weighting over
  * the child's `id % p` partitions of [[CoresetPack]] blocks (see
  * [[CoresetPlan]]). No driver involvement; the composable-coreset theorem
  * is exactly the license to fold each residue class independently. Each
  * block is copied in bulk into one float block ([[PointBlock]], sorted by
  * id once all blocks are in, then laid out in tiles of L points for the
  * SIMD distance scan), so a task holds its partition once, as floats,
  * plus O(k′) output.
  */
case class CoresetExec(child: SparkPlan, kPrime: Int, p: Int, output: Seq[Attribute])
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override def references: AttributeSet = child.outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    // Belt-and-braces for the pruning class of bug: fail loudly if the
    // child ever stops delivering the (r, ids, vecs) block contract (a
    // zero-column child here once meant memory-unsafe reads).
    require(child.output.length == 3,
      s"CoresetExec child must deliver (r, ids, vecs) blocks; got ${child.output}")
    val (k, parts, schema) = (kPrime, p, output)
    child.execute().mapPartitionsWithIndex { (part, rows) =>
      val block = new PointBlock.Builder
      while (rows.hasNext) {
        // Exchange rows are UnsafeRows: a binary field's slot holds its
        // offset << 32 | size, so the block is read where it lies.
        val r = rows.next().asInstanceOf[UnsafeRow]
        val (base, idSlot, vecSlot) = (r.getBaseObject, r.getLong(1), r.getLong(2))
        val idsAt = r.getBaseOffset + (idSlot >>> 32)
        var i = 0
        while (i < idSlot.toInt / 8) {
          val id = Platform.getLong(base, idsAt + 8L * i)
          // A coalesced or split exchange would silently mix residue classes.
          require(Math.floorMod(id, parts.toLong) == part,
            s"CoresetExec: vec_id $id is in partition $part, not in its id % $parts class")
          i += 1
        }
        block.add(base, idsAt, idSlot.toInt, r.getBaseOffset + (vecSlot >>> 32), vecSlot.toInt)
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
