package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, GenericInternalRow, RowOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** Brute-force cosine kNN scoring: every (query, corpus) pair scored,
  * a bounded top-k kept per query. Children are two-column frames,
  * `(query_id, qv)` and `(neighbor_id, cv)`; the output is at most k
  * `(query_id, cos, neighbor_id)` candidates per query per corpus
  * partition. The rank stage above ([[graft.operators.Similarity]]'s
  * `topKPerQuery`) merges the per-partition candidates once.
  * [[GraftCosineTopK.frame]] projects the node's cosine, `__cos`, as
  * the alias `cos`.
  *
  * `cos` is bit-identical to `when(qn·cn > 0, dot(qv, cv) / (qn·cn))`
  * with `qn = sqrt(dot(qv, qv))`, `cn = sqrt(dot(cv, cv))` and `dot`
  * [[ArrayDotProduct]] (a left-to-right double fold): a null vector, a
  * null element or a length mismatch gives a null cos, and the `> 0`
  * test uses Spark's double order (NaN above everything), so a NaN
  * denominator yields NaN. `excludeSelf` drops pairs whose ids are
  * equal or null (the `query_id <> neighbor_id` join condition);
  * `band = (lo, hi)` keeps only `lo <= cos < hi`, which drops null and
  * NaN cosines.
  */
case class GraftCosineTopK(
    queryId: Attribute,
    queryVec: Attribute,
    corpusId: Attribute,
    corpusVec: Attribute,
    cos: Attribute,
    k: Int,
    excludeSelf: Boolean,
    band: Option[(Double, Double)],
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {

  override def output: Seq[Attribute] = Seq(queryId, cos, corpusId)
  override def producedAttributes: AttributeSet = AttributeSet(cos)
  override protected def stringArgs: Iterator[Any] =
    GraftCosineTopK.args(queryVec, corpusVec, k, excludeSelf, band)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): GraftCosineTopK =
    copy(left = newLeft, right = newRight)
}

object GraftCosineTopK {

  /** `qv, cv, k=3, excludeSelf, band=[0.1, 0.4)` in plan strings. */
  private[plans] def args(qv: Attribute, cv: Attribute, k: Int, excludeSelf: Boolean,
                          band: Option[(Double, Double)]): Iterator[Any] =
    Iterator(qv, cv, s"k=$k") ++ (if (excludeSelf) Iterator("excludeSelf") else Iterator.empty) ++
      band.iterator.map { case (lo, hi) => s"band=[$lo, $hi)" }

  /** The lazy `(query_id, cos, neighbor_id)` candidate frame over
    * `queries (query_id, qv)` and `corpus (neighbor_id, cv)`. Building
    * it runs nothing; sessions built without [[GraftExtensions]] get
    * the planner strategy installed here.
    */
  def frame(queries: DataFrame, corpus: DataFrame, k: Int, excludeSelf: Boolean,
            band: Option[(Double, Double)]): DataFrame = {
    val q = queries.queryExecution.analyzed
    val c = corpus.queryExecution.analyzed
    val Seq(qId, qVec) = q.output
    val Seq(cId, cVec) = c.output
    Seq(qVec, cVec).foreach(v => v.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
      case t => throw new IllegalArgumentException(
        s"cosine kNN needs array<float> or array<double> vectors, got ${t.simpleString}")
    })
    Seq(qId, cId).foreach(i => require(
      !i.dataType.isInstanceOf[StructType] && !i.dataType.isInstanceOf[ArrayType] &&
        RowOrdering.isOrderable(i.dataType),
      s"cosine kNN ids must be an orderable atomic type, got ${i.dataType.simpleString}"))
    require(!excludeSelf || qId.dataType == cId.dataType,
      s"self-exclusion compares ids of one type, got ${qId.dataType.simpleString} " +
        s"and ${cId.dataType.simpleString}")
    val spark = queries.sparkSession
    install(spark)
    // the node's own cos is internal; the frame's `cos` is an alias of
    // it, which the analyzer renews when a kNN frame joins with itself
    val cos = AttributeReference("__cos", DoubleType)()
    GraftColumnBridge.frame(spark, Project(Seq(qId, Alias(cos, "cos")(), cId),
      GraftCosineTopK(qId, qVec, cId, cVec, cos, k, excludeSelf, band, q, c)))
  }

  /** Idempotent: a no-op when the session's planner already has the
    * strategy (from [[GraftExtensions]] or an earlier call).
    */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.sessionState.planner.strategies.contains(CosineTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CosineTopKStrategy
  }
}

object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: GraftCosineTopK =>
      CosineTopKExec(n.queryId, n.queryVec, n.corpusId, n.corpusVec, n.cos, n.k,
        n.excludeSelf, n.band, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Physical [[GraftCosineTopK]]. The query side is broadcast
  * (`EnsureRequirements`/AQE insert the exchange, as for a broadcast
  * nested-loop join); each corpus task then:
  *
  *  - decodes the broadcast query vectors once into one `double[]`
  *    matrix with per-query norms;
  *  - decodes each corpus vector once, with its norm, and scores it
  *    against every query (each dot a left-to-right double fold);
  *  - keeps per query a bounded max-heap of the k best candidates in
  *    primitive arrays, ordered by (cos desc nulls last, neighbor id
  *    asc nulls first); an interpreted id ordering is consulted only
  *    on cos ties;
  *  - emits at most k candidates per query.
  *
  * Memory per task is bounded by `|Q|·(8·d + 17·k)` bytes for |Q|
  * queries of dimension d: the query matrix, and per heap slot a
  * double cos, an 8-byte id and a flag byte. Ids that are not
  * int/bigint are held as references to copied values instead.
  */
case class CosineTopKExec(
    queryId: Attribute,
    queryVec: Attribute,
    corpusId: Attribute,
    corpusVec: Attribute,
    cos: Attribute,
    k: Int,
    excludeSelf: Boolean,
    band: Option[(Double, Double)],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def nodeName: String = "GraftCosineTopK"
  override def output: Seq[Attribute] = Seq(queryId, cos, corpusId)
  override def producedAttributes: AttributeSet = AttributeSet(cos)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(right.outputPartitioning.numPartitions)
  override def requiredChildDistribution: Seq[Distribution] =
    BroadcastDistribution(IdentityBroadcastMode) :: UnspecifiedDistribution :: Nil
  override protected def stringArgs: Iterator[Any] =
    GraftCosineTopK.args(queryVec, corpusVec, k, excludeSelf, band)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "pairsScored" -> SQLMetrics.createMetric(sparkContext, "pairs scored"),
    "candidatesOut" -> SQLMetrics.createMetric(sparkContext, "candidates out"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): CosineTopKExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val pairsScored = longMetric("pairsScored")
    val candidatesOut = longMetric("candidatesOut")
    val queries = left.executeBroadcast[Array[InternalRow]]()
    val spec = CosineTopKKernel.Spec(
      qIdOrd = left.output.indexWhere(_.exprId == queryId.exprId),
      qVecOrd = left.output.indexWhere(_.exprId == queryVec.exprId),
      cIdOrd = right.output.indexWhere(_.exprId == corpusId.exprId),
      cVecOrd = right.output.indexWhere(_.exprId == corpusVec.exprId),
      qIdType = queryId.dataType, cIdType = corpusId.dataType,
      qFloat = queryVec.dataType.asInstanceOf[ArrayType].elementType == FloatType,
      cFloat = corpusVec.dataType.asInstanceOf[ArrayType].elementType == FloatType,
      k = k, excludeSelf = excludeSelf, band = band)
    right.execute().mapPartitions { corpus =>
      val out = new CosineTopKKernel(spec, queries.value).run(corpus)
      pairsScored += out.pairs
      candidatesOut += out.rows.length
      out.rows.iterator
    }
  }
}

private[plans] object CosineTopKKernel {
  case class Spec(qIdOrd: Int, qVecOrd: Int, cIdOrd: Int, cVecOrd: Int,
                  qIdType: DataType, cIdType: DataType, qFloat: Boolean, cFloat: Boolean,
                  k: Int, excludeSelf: Boolean, band: Option[(Double, Double)])

  case class Result(pairs: Long, rows: Array[InternalRow])

  private val CosNull: Byte = 1
  private val IdNull: Byte = 2

  /** Reads a vector into `buf` from offset `off` as `(double)` values;
    * returns its length, or -1 for a null vector or a null element.
    */
  private def decode(v: ArrayData, isFloat: Boolean, buf: Array[Double], off: Int): Int = {
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return -1
      buf(off + i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    n
  }

  /** `sqrt(dot(v, v))` as [[ArrayDotProduct]] folds it. */
  private def norm(buf: Array[Double], off: Int, n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += buf(off + i) * buf(off + i); i += 1 }
    math.sqrt(s)
  }
}

/** One corpus task's scoring state (see [[CosineTopKExec]]). */
private[plans] final class CosineTopKKernel(
    spec: CosineTopKKernel.Spec, queryRows: Array[InternalRow]) {
  import CosineTopKKernel._

  private val nq = queryRows.length
  private val k = spec.k
  // int/bigint ids live in primitive arrays; other types as copied values
  private val longIds = spec.cIdType == LongType || spec.cIdType == IntegerType
  private val idOrdering = TypeUtils.getInterpretedOrdering(spec.cIdType)
  private val (lo, hi) = spec.band.getOrElse((0.0, 0.0))

  // query side, decoded once per task
  private val qLen = new Array[Int](nq)        // -1: null vector / null element
  private val qOff = new Array[Int](nq)
  private val qNorm = new Array[Double](nq)
  private val qIdNull = new Array[Boolean](nq)
  private val qIdLong = if (spec.excludeSelf && longIds) new Array[Long](nq) else null
  private val qIdRef = if (spec.excludeSelf && !longIds) new Array[Any](nq) else null
  private val qMat: Array[Double] = {
    var total = 0L
    queryRows.foreach { r =>
      if (!r.isNullAt(spec.qVecOrd)) total += r.getArray(spec.qVecOrd).numElements()
    }
    require(total <= Int.MaxValue - 8, s"broadcast query matrix of $total elements")
    val m = new Array[Double](total.toInt)
    var off = 0
    var q = 0
    while (q < nq) {
      val r = queryRows(q)
      qOff(q) = off
      if (r.isNullAt(spec.qVecOrd)) qLen(q) = -1
      else {
        val v = r.getArray(spec.qVecOrd)
        qLen(q) = decode(v, spec.qFloat, m, off)
        off += v.numElements()
        if (qLen(q) >= 0) qNorm(q) = norm(m, qOff(q), qLen(q))
      }
      qIdNull(q) = r.isNullAt(spec.qIdOrd)
      if (spec.excludeSelf && !qIdNull(q)) {
        if (longIds) qIdLong(q) = readLong(r, spec.qIdOrd, spec.qIdType)
        else qIdRef(q) = r.get(spec.qIdOrd, spec.qIdType)
      }
      q += 1
    }
    m
  }

  // per-query heaps: slots [q·k, q·k + size(q)), worst candidate at the root
  private val slots = math.max(k, 0).toLong * nq
  require(slots <= Int.MaxValue - 8, s"kNN heaps of $nq queries x $k slots exceed one array")
  private val size = new Array[Int](nq)
  private val sCos = new Array[Double](slots.toInt)
  private val sFlag = new Array[Byte](slots.toInt)
  private val sIdLong = if (longIds) new Array[Long](slots.toInt) else null
  private val sIdRef = if (longIds) null else new Array[Any](slots.toInt)

  // the corpus row being scored
  private var cBuf = new Array[Double](64)
  private var cLen = 0 // -1: null vector / null element
  private var cNorm = 0.0
  private var cIdNull = false
  private var cIdLong = 0L
  private var cIdRef: Any = null

  private def readLong(r: InternalRow, ord: Int, t: DataType): Long =
    if (t == IntegerType) r.getInt(ord).toLong else r.getLong(ord)

  def run(corpus: Iterator[InternalRow]): Result = {
    if (nq == 0 || k <= 0) return Result(0L, Array.empty)
    var pairs = 0L
    while (corpus.hasNext) {
      val row = corpus.next()
      cLen =
        if (row.isNullAt(spec.cVecOrd)) -1
        else {
          val v = row.getArray(spec.cVecOrd)
          if (v.numElements() > cBuf.length)
            cBuf = new Array[Double](math.max(v.numElements(), cBuf.length * 2))
          decode(v, spec.cFloat, cBuf, 0)
        }
      cNorm = if (cLen >= 0) norm(cBuf, 0, cLen) else 0.0
      cIdNull = row.isNullAt(spec.cIdOrd)
      if (!cIdNull) {
        if (longIds) cIdLong = readLong(row, spec.cIdOrd, spec.cIdType)
        else cIdRef = row.get(spec.cIdOrd, spec.cIdType)
      }
      pairs += scoreRow()
    }
    Result(pairs, emit())
  }

  /** Scores the current corpus row against every query; returns the
    * number of pairs scored (self matches and null ids excluded).
    */
  private def scoreRow(): Long = {
    var scored = 0L
    var q = 0
    while (q < nq) {
      var s = 0.0
      if (cLen >= 0 && qLen(q) == cLen) {
        val o = qOff(q)
        var i = 0
        while (i < cLen) { s += qMat(o + i) * cBuf(i); i += 1 }
      }
      scored += pair(q, s)
      q += 1
    }
    scored
  }

  /** Offers the pair (query q, current corpus row), whose dot product
    * is `dot` when both vectors are non-null and of one length. Returns
    * 1 if the pair was scored, 0 if self-exclusion dropped it.
    */
  private def pair(q: Int, dot: Double): Int = {
    if (spec.excludeSelf && (qIdNull(q) || cIdNull || sameId(q))) return 0
    var cosNull = true
    var c = 0.0
    if (qLen(q) >= 0 && cLen >= 0) {
      val denom = qNorm(q) * cNorm
      if (SQLOrderingUtil.compareDoubles(denom, 0.0) > 0 && qLen(q) == cLen) {
        cosNull = false
        c = dot / denom
      }
    }
    if (spec.band.isEmpty || (!cosNull &&
        SQLOrderingUtil.compareDoubles(c, lo) >= 0 && SQLOrderingUtil.compareDoubles(c, hi) < 0))
      offer(q, cosNull, c)
    1
  }

  private def sameId(q: Int): Boolean =
    if (longIds) qIdLong(q) == cIdLong
    else idOrdering.compare(qIdRef(q), cIdRef) == 0

  /** < 0 when the key (cos, id) ranks before slot s: cos desc nulls
    * last, then id asc nulls first.
    */
  private def compareTo(cosNull: Boolean, c: Double, idNull: Boolean, idLong: Long,
                        idRef: Any, s: Int): Int = {
    val sCosNull = (sFlag(s) & CosNull) != 0
    val byCos =
      if (cosNull) { if (sCosNull) 0 else 1 }
      else if (sCosNull) -1
      else -SQLOrderingUtil.compareDoubles(c, sCos(s))
    if (byCos != 0) byCos
    else {
      val sIdNull = (sFlag(s) & IdNull) != 0
      if (idNull) { if (sIdNull) 0 else -1 }
      else if (sIdNull) 1
      else if (longIds) java.lang.Long.compare(idLong, sIdLong(s))
      else idOrdering.compare(idRef, sIdRef(s))
    }
  }

  /** The candidate (cosNull, c, current corpus id) against slot s. */
  private def compareToSlot(cosNull: Boolean, c: Double, s: Int): Int =
    compareTo(cosNull, c, cIdNull, cIdLong, cIdRef, s)

  private def compareSlots(a: Int, b: Int): Int =
    compareTo((sFlag(a) & CosNull) != 0, sCos(a), (sFlag(a) & IdNull) != 0,
      if (longIds) sIdLong(a) else 0L, if (longIds) null else sIdRef(a), b)

  private def put(s: Int, cosNull: Boolean, c: Double): Unit = {
    sCos(s) = c
    sFlag(s) = ((if (cosNull) CosNull else 0) | (if (cIdNull) IdNull else 0)).toByte
    if (longIds) sIdLong(s) = cIdLong
    else sIdRef(s) = if (cIdNull) null else InternalRow.copyValue(cIdRef)
  }

  private def swap(a: Int, b: Int): Unit = {
    val c = sCos(a); sCos(a) = sCos(b); sCos(b) = c
    val f = sFlag(a); sFlag(a) = sFlag(b); sFlag(b) = f
    if (longIds) { val i = sIdLong(a); sIdLong(a) = sIdLong(b); sIdLong(b) = i }
    else { val i = sIdRef(a); sIdRef(a) = sIdRef(b); sIdRef(b) = i }
  }

  private def offer(q: Int, cosNull: Boolean, c: Double): Unit = {
    val n = size(q)
    val base = q * k
    if (n < k) {
      put(base + n, cosNull, c)
      size(q) = n + 1
      // sift up: the worst-ranked candidate stays at the root
      var i = n
      while (i > 0 && compareSlots(base + (i - 1) / 2, base + i) < 0) {
        swap(base + (i - 1) / 2, base + i)
        i = (i - 1) / 2
      }
    } else {
      if (compareToSlot(cosNull, c, base) >= 0) return
      put(base, cosNull, c)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= n) done = true
        else {
          val r = l + 1
          val worse = if (r < n && compareSlots(base + r, base + l) > 0) r else l
          if (compareSlots(base + worse, base + i) > 0) { swap(base + worse, base + i); i = worse }
          else done = true
        }
      }
    }
  }

  private def emit(): Array[InternalRow] = {
    val proj = UnsafeProjection.create(Array[DataType](spec.qIdType, DoubleType, spec.cIdType))
    val row = new GenericInternalRow(3)
    val out = Array.newBuilder[InternalRow]
    var q = 0
    while (q < nq) {
      row.update(0, if (qIdNull(q)) null else queryRows(q).get(spec.qIdOrd, spec.qIdType))
      var j = 0
      while (j < size(q)) {
        val s = q * k + j
        row.update(1, if ((sFlag(s) & CosNull) != 0) null else sCos(s))
        row.update(2,
          if ((sFlag(s) & IdNull) != 0) null
          else if (!longIds) sIdRef(s)
          else if (spec.cIdType == IntegerType) sIdLong(s).toInt
          else sIdLong(s))
        out += proj(row).copy()
        j += 1
      }
      q += 1
    }
    out.result()
  }
}
