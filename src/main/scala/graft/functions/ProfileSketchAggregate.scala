package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  SpecificInternalRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{HyperLogLogPlusPlusHelper,
  QuantileSummaries}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Mutable per-column profile sketch: counters, moments (Chan's
  * parallel mean/M2), min/max, HLL++ registers, and a Greenwald-Khanna
  * quantile summary — everything [[graft.operators.Profile]]'s approx
  * mode needs, accumulated in ONE pass.
  *
  * Quantile values buffer in an UNBOXED double array and flush into
  * the GK summary in sorted batches: `QuantileSummaries.insert` boxes
  * every value into a Scala `ArrayBuffer[Double]` and re-sorts a 50k
  * head buffer, which was the dominant per-row cost in the r4 profile
  * of this aggregate (VERDICT r4 #4). A sorted batch with g=1,
  * delta=0 is an exact summary of itself (the GK invariant
  * g+delta <= 2*eps*n holds trivially), so compress-then-merge
  * preserves the same error contract as the incremental path.
  */
final class ProfileSketch(
    val hll: HyperLogLogPlusPlusHelper,
    val relativeError: Double) {
  var n: Long = 0L
  var nulls: Long = 0L
  var empties: Long = 0L
  var cnt: Long = 0L // non-null numeric observations
  var mn: Double = Double.PositiveInfinity
  var mx: Double = Double.NegativeInfinity
  var mean: Double = 0.0
  var m2: Double = 0.0
  val hllRow: SpecificInternalRow = {
    val r = new SpecificInternalRow(Seq.fill(hll.numWords)(LongType))
    var i = 0
    while (i < hll.numWords) { r.setLong(i, 0L); i += 1 }
    r
  }
  var quant: QuantileSummaries = new QuantileSummaries(
    QuantileSummaries.defaultCompressThreshold, relativeError)

  private val buf = new Array[Double](ProfileSketch.BufSize)
  private var bufN = 0

  def add(d: Double): Unit = {
    buf(bufN) = d
    bufN += 1
    if (bufN == ProfileSketch.BufSize) flush()
  }

  /** Folds the buffered values into `quant` as one sorted exact batch;
    * must run before any merge/eval/serialize touches `quant`.
    */
  def flush(): Unit = if (bufN > 0) {
    java.util.Arrays.sort(buf, 0, bufN)
    val stats = new Array[QuantileSummaries.Stats](bufN)
    var i = 0
    while (i < bufN) {
      stats(i) = new QuantileSummaries.Stats(buf(i), 1, 0)
      i += 1
    }
    val batch = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, relativeError, stats,
      bufN.toLong, false).compress()
    quant =
      if (quant.count == 0) batch else quant.compress().merge(batch)
    bufN = 0
  }
}

object ProfileSketch {
  /** Rows buffered between GK flushes. Sizing trade: bigger batches
    * amortize the flush's sort+merge, but every open buffer holds
    * `8·BufSize` bytes per column per task — at 64k doubles the
    * 11-column lineitem profile held ~5.5 MB per task (~176 MB across
    * 32 concurrent tasks), enough transient heap to make the query's
    * timing degrade under full-suite GC pressure (the r8 smoke-slope
    * regression on an unchanged aggregate). 16k keeps the flush cost
    * sublinear-identical (total sort work is n·log b) at a quarter of
    * the footprint.
    */
  val BufSize = 16384
}

/** One-pass profile aggregate (SURVEY §4's deferred optional — VERDICT
  * r3 #7): a single [[TypedImperativeAggregate]] that folds counters,
  * moments, min/max, HLL distinct, and sketch quantiles per column in
  * one input scan — at 100 TB the scan dominates, so the sketch
  * profile reads its input exactly once.
  *
  * `value` is the raw column (any type — feeds null/empty counters and
  * the HLL); `num` is the numeric projection (cast-to-double, or
  * epoch-micros for timestamps; a null literal for plain strings) that
  * feeds min/max/moments/quantiles. Output is one struct per column;
  * `Profile.summarizeApprox` reshapes driver-side.
  *
  * Accuracy contracts match the stock sketches (same underlying
  * HyperLogLogPlusPlusHelper / QuantileSummaries implementations):
  * HLL rsd and GK relative rank error are constructor parameters.
  */
case class ProfileSketchAgg(
    value: Expression,
    num: Expression,
    isString: Boolean,
    rsd: Double = 0.05,
    relativeError: Double = 0.01,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ProfileSketch] with BinaryLike[Expression] {

  override def left: Expression = value
  override def right: Expression = num
  override def prettyName: String = "profile_sketch"
  override def nullable: Boolean = false
  override val dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("nulls", LongType, nullable = false),
    StructField("empties", LongType, nullable = false),
    StructField("dist", LongType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true),
    StructField("av", DoubleType, nullable = true),
    StructField("sd", DoubleType, nullable = true),
    StructField("q1", DoubleType, nullable = true),
    StructField("med", DoubleType, nullable = true),
    StructField("q3", DoubleType, nullable = true)))

  @transient private lazy val hllHelper =
    new HyperLogLogPlusPlusHelper(rsd)

  // a foldable null `num` (the string-column case) never yields a
  // numeric observation — skip its per-row eval entirely
  @transient private lazy val numIsAlwaysNull =
    num.foldable && num.eval(null) == null

  override def createAggregationBuffer(): ProfileSketch =
    new ProfileSketch(hllHelper, relativeError)

  override def update(b: ProfileSketch, input: InternalRow): ProfileSketch = {
    b.n += 1
    val v = value.eval(input)
    if (v == null) b.nulls += 1
    else if (isString &&
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .numBytes() == 0) b.empties += 1
    else {
      b.hll.update(b.hllRow, 0, v, value.dataType)
      if (!numIsAlwaysNull) {
        val nv = num.eval(input)
        if (nv != null) {
          val d = nv.asInstanceOf[Double]
          b.cnt += 1
          if (d < b.mn) b.mn = d
          if (d > b.mx) b.mx = d
          val delta = d - b.mean
          b.mean += delta / b.cnt
          b.m2 += delta * (d - b.mean)
          b.add(d)
        }
      }
    }
    b
  }

  override def merge(b: ProfileSketch, o: ProfileSketch): ProfileSketch = {
    b.n += o.n; b.nulls += o.nulls; b.empties += o.empties
    b.hll.merge(b.hllRow, o.hllRow, 0, 0)
    if (o.cnt > 0) {
      if (o.mn < b.mn) b.mn = o.mn
      if (o.mx > b.mx) b.mx = o.mx
      // Chan et al. parallel mean/M2 combination
      val nAll = b.cnt + o.cnt
      val delta = o.mean - b.mean
      b.m2 += o.m2 + delta * delta * b.cnt * o.cnt / nAll
      b.mean += delta * o.cnt / nAll
      b.cnt = nAll
      b.flush(); o.flush()
      b.quant = b.quant.compress().merge(o.quant.compress())
    }
    b
  }

  override def eval(b: ProfileSketch): Any = {
    b.flush()
    val dist = b.hll.query(b.hllRow, 0)
    def q(p: Double): Any =
      if (b.cnt == 0) null
      else b.quant.compress().query(p).map(Double.box).orNull
    new GenericInternalRow(Array[Any](
      b.n, b.nulls, b.empties, dist,
      if (b.cnt > 0) Double.box(b.mn) else null,
      if (b.cnt > 0) Double.box(b.mx) else null,
      if (b.cnt > 0) Double.box(b.mean) else null,
      if (b.cnt > 1) Double.box(math.sqrt(b.m2 / (b.cnt - 1))) else null,
      q(0.25), q(0.5), q(0.75)))
  }

  override def serialize(b: ProfileSketch): Array[Byte] = {
    b.flush()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(b.n); out.writeLong(b.nulls); out.writeLong(b.empties)
    out.writeLong(b.cnt)
    out.writeDouble(b.mn); out.writeDouble(b.mx)
    out.writeDouble(b.mean); out.writeDouble(b.m2)
    var i = 0
    while (i < b.hll.numWords) { out.writeLong(b.hllRow.getLong(i)); i += 1 }
    val qs = b.quant.compress()
    out.writeLong(qs.count)
    out.writeInt(qs.sampled.length)
    qs.sampled.foreach { s =>
      out.writeDouble(s.value); out.writeLong(s.g); out.writeLong(s.delta)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ProfileSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    b.n = in.readLong(); b.nulls = in.readLong(); b.empties = in.readLong()
    b.cnt = in.readLong()
    b.mn = in.readDouble(); b.mx = in.readDouble()
    b.mean = in.readDouble(); b.m2 = in.readDouble()
    var i = 0
    while (i < b.hll.numWords) { b.hllRow.setLong(i, in.readLong()); i += 1 }
    val qCount = in.readLong()
    val nStats = in.readInt()
    val stats = Array.fill(nStats) {
      new QuantileSummaries.Stats(in.readDouble(), in.readLong(),
        in.readLong())
    }
    b.quant = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, relativeError, stats,
      qCount, true)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ProfileSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ProfileSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ProfileSketchAgg =
    copy(value = newLeft, num = newRight)
}

object ProfileSketchAgg {
  /** Column-API entry: one-pass profile sketch of (value, num). */
  def sketch(value: Column, num: Column, isString: Boolean,
      rsd: Double = 0.05, relativeError: Double = 0.01): Column =
    ColumnBridge.column(ProfileSketchAgg(
      ColumnBridge.expression(value), ColumnBridge.expression(num),
      isString, rsd, relativeError).toAggregateExpression())
}
