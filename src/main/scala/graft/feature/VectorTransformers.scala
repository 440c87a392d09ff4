package graft.feature

import org.apache.spark.ml.linalg.{DenseVector, SQLDataTypes, SparseVector, Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.api.{OneToOne, StageLoader, Transformer}
import graft.param._
import graft.util.ReadWrite

/** ParamCodec for ml.linalg.Vector values (ElementwiseProduct scalingVec). */
object VectorParamCodec {
  import org.json4s._
  implicit val vectorCodec: ParamCodec[Vector] = new ParamCodec[Vector] {
    def encode(v: Vector): JValue =
      if (v == null) JNull else JArray(v.toArray.toList.map(JDouble(_)))
    def decode(j: JValue): Vector = j match {
      case JArray(xs) => Vectors.dense(xs.map {
        case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
        case x => sys.error(s"bad vector element $x")
      }.toArray)
      case JNull => null
      case x     => sys.error(s"bad vector $x")
    }
  }
}

/**
 * Binarizer: threshold numeric/vector columns to 0/1 (multi in/out).
 * Reference: feature/binarizer/Binarizer.java:63 (binarizerFunc —
 * numeric → double 0/1; dense vector elementwise; sparse keeps only
 * above-threshold entries).
 */
class Binarizer extends Transformer[Binarizer] with OneToOne[Binarizer]
    with HasInputCols[Binarizer] with HasOutputCols[Binarizer] {

  final val thresholds: Param[Array[Double]] =
    paramNoDefault[Array[Double]]("thresholds", "Per-column binarization threshold",
      ParamValidators.nonEmptyArray)
  def setThresholds(v: Double*): Binarizer = set(thresholds, v.toArray)
  def getThresholds: Array[Double] = get(thresholds)

  override protected def transformOne(df: DataFrame): DataFrame = {
    require(getInputCols.length == getThresholds.length, "inputCols and thresholds must align")
    val schema = df.schema
    getInputCols.zip(getOutputCols).zip(getThresholds).foldLeft(df) {
      case (d, ((in, out), thr)) =>
        schema(in).dataType match {
          case _: org.apache.spark.sql.types.NumericType =>
            d.withColumn(out, when(col(in).cast("double") > thr, 1.0).otherwise(0.0))
          case _ => // vector column
            val binV = udf { v: Vector =>
              v match {
                case null => null
                case dv: DenseVector => Vectors.dense(dv.values.map(x => if (x > thr) 1.0 else 0.0))
                case sv: SparseVector =>
                  val keep = sv.indices.zip(sv.values).filter(_._2 > thr)
                  Vectors.sparse(sv.size, keep.map(_._1), keep.map(_ => 1.0))
              }
            }
            d.withColumn(out, binV(col(in)))
        }
    }
  }
}
object Binarizer extends StageLoader[Binarizer] {
  def load(spark: SparkSession, path: String): Binarizer =
    ReadWrite.applyParams(new Binarizer, path)
}

/**
 * Bucketizer: map continuous columns to bucket indices given split
 * points; handleInvalid keep (→ numBuckets) / skip (drop row) / error.
 * Reference: feature/bucketizer/Bucketizer.java:62 (FindBucketFunction).
 */
class Bucketizer extends Transformer[Bucketizer] with OneToOne[Bucketizer]
    with HasInputCols[Bucketizer] with HasOutputCols[Bucketizer]
    with HasHandleInvalid[Bucketizer] {

  implicit private val aaCodec: ParamCodec[Array[Array[Double]]] =
    ParamCodec.arrayCodec[Array[Double]]

  final val splitsArray: Param[Array[Array[Double]]] =
    paramNoDefault[Array[Array[Double]]]("splitsArray", "Per-column split points (ascending)")
  def setSplitsArray(v: Array[Array[Double]]): Bucketizer = set(splitsArray, v)
  def getSplitsArray: Array[Array[Double]] = get(splitsArray)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val cols = getInputCols; val outs = getOutputCols; val splitsA = getSplitsArray
    require(cols.length == outs.length && cols.length == splitsA.length)
    val invalid = getHandleInvalid

    // bucket index or null when invalid (NaN / out of range)
    def bucketUdf(splits: Array[Double]) = udf { x: java.lang.Double =>
      if (x == null || x.isNaN) null
      else {
        val v = x.doubleValue()
        val i = java.util.Arrays.binarySearch(splits, v)
        if (i >= 0) {
          if (i == splits.length - 1) java.lang.Double.valueOf((i - 1).toDouble)
          else java.lang.Double.valueOf(i.toDouble)
        } else {
          val ins = -i - 1
          if (ins == 0 || ins == splits.length) null
          else java.lang.Double.valueOf((ins - 1).toDouble)
        }
      }
    }

    var out = cols.zip(outs).zip(splitsA).foldLeft(df) { case (d, ((in, o), splits)) =>
      d.withColumn(o, bucketUdf(splits)(col(in).cast("double")))
    }
    invalid match {
      case HandleInvalid.SKIP =>
        outs.foreach(o => out = out.filter(col(o).isNotNull))
        out
      case HandleInvalid.KEEP =>
        outs.zip(splitsA).foldLeft(out) { case (d, (o, splits)) =>
          d.withColumn(o, coalesce(col(o), lit((splits.length - 1).toDouble)))
        }
      case HandleInvalid.ERROR =>
        outs.foldLeft(out) { case (d, o) =>
          d.withColumn(o, when(col(o).isNull,
            raise_error(lit("The input contains invalid value. See handleInvalid parameter for more options."))
              .cast("double")).otherwise(col(o)))
        }
    }
  }
}
object Bucketizer extends StageLoader[Bucketizer] {
  def load(spark: SparkSession, path: String): Bucketizer =
    ReadWrite.applyParams(new Bucketizer, path)
}

/**
 * Normalizer: scale vector to unit p-norm.
 * Reference: feature/normalizer/Normalizer.java:54.
 */
class Normalizer extends Transformer[Normalizer] with OneToOne[Normalizer]
    with HasInputCol[Normalizer] with HasOutputCol[Normalizer] {

  final val p: Param[Double] = param[Double]("p", "The p-norm", 2.0, ParamValidators.gtEq(1))
  def setP(v: Double): Normalizer = set(p, v)
  def getP: Double = get(p)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val pv = getP
    val norm = udf { v: Vector =>
      if (v == null) null
      else {
        val n = Vectors.norm(v, pv)
        val scale = if (n == 0) 0.0 else 1.0 / n
        v match {
          case dv: DenseVector  => Vectors.dense(dv.values.map(_ * scale))
          case sv: SparseVector => Vectors.sparse(sv.size, sv.indices, sv.values.map(_ * scale))
        }
      }
    }
    df.withColumn(getOutputCol, norm(col(getInputCol)))
  }
}
object Normalizer extends StageLoader[Normalizer] {
  def load(spark: SparkSession, path: String): Normalizer =
    ReadWrite.applyParams(new Normalizer, path)
}

/**
 * ElementwiseProduct: Hadamard product with a constant scaling vector.
 * Reference: feature/elementwiseproduct/ElementwiseProduct.java:61.
 */
class ElementwiseProduct extends Transformer[ElementwiseProduct] with OneToOne[ElementwiseProduct]
    with HasInputCol[ElementwiseProduct] with HasOutputCol[ElementwiseProduct] {

  import VectorParamCodec._
  final val scalingVec: Param[Vector] =
    paramNoDefault[Vector]("scalingVec", "The scaling vector", (v: Vector) => v != null)
  def setScalingVec(v: Vector): ElementwiseProduct = set(scalingVec, v)
  def getScalingVec: Vector = get(scalingVec)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val sv = getScalingVec
    val mul = udf { v: Vector =>
      if (v == null) null
      else {
        require(v.size == sv.size, s"Vector size ${v.size} != scaling vector size ${sv.size}")
        v match {
          case d: DenseVector =>
            val out = new Array[Double](d.size)
            var i = 0; while (i < out.length) { out(i) = d.values(i) * sv(i); i += 1 }
            Vectors.dense(out)
          case s: SparseVector =>
            Vectors.sparse(s.size, s.indices, s.indices.zip(s.values).map { case (i, x) => x * sv(i) })
        }
      }
    }
    df.withColumn(getOutputCol, mul(col(getInputCol)))
  }
}
object ElementwiseProduct extends StageLoader[ElementwiseProduct] {
  def load(spark: SparkSession, path: String): ElementwiseProduct =
    ReadWrite.applyParams(new ElementwiseProduct, path)
}

/**
 * Interaction: iterated outer product of numeric/vector columns →
 * one vector of all pairwise(-wise) products, row-major (earlier
 * columns are the slow index). Reference:
 * feature/interaction/Interaction.java:65 (InteractionFunction).
 */
class Interaction extends Transformer[Interaction] with OneToOne[Interaction]
    with HasInputCols[Interaction] with HasOutputCol[Interaction] {

  override protected def transformOne(df: DataFrame): DataFrame = {
    val (inputs, isNumeric) = VectorAssembler.inputStruct(df, getInputCols)
    val interact = udf { row: Row =>
      if ((0 until row.length).exists(row.isNullAt)) null
      else {
        // a number is a 1-element dense vector
        val cols = Seq.tabulate(row.length) { i =>
          if (isNumeric(i)) Vectors.dense(row.getDouble(i)) else row.getAs[Vector](i)
        }
        // fold outer products left-to-right; pairs of (index, value)
        var size = 1
        var pairs: Array[(Int, Double)] = Array((0, 1.0))
        cols.foreach { v =>
          val (idx, vals) = v match {
            case d: DenseVector  => (Array.range(0, d.size), d.values)
            case s: SparseVector => (s.indices, s.values)
          }
          val next = new Array[(Int, Double)](pairs.length * vals.length)
          var k = 0
          var i = 0
          while (i < pairs.length) {
            var j = 0
            while (j < vals.length) {
              next(k) = (pairs(i)._1 * v.size + idx(j), pairs(i)._2 * vals(j))
              k += 1; j += 1
            }
            i += 1
          }
          pairs = next
          size *= v.size
        }
        val dense = cols.forall(_.isInstanceOf[DenseVector])
        if (dense) Vectors.dense(pairs.map(_._2))
        else {
          val sorted = pairs.sortBy(_._1)
          Vectors.sparse(size, sorted.map(_._1), sorted.map(_._2))
        }
      }
    }
    df.withColumn(getOutputCol, interact(inputs))
  }
}
object Interaction extends StageLoader[Interaction] {
  def load(spark: SparkSession, path: String): Interaction =
    ReadWrite.applyParams(new Interaction, path)
}

/**
 * PolynomialExpansion: expand vector into polynomial space of given
 * degree (combinations-with-replacement, spark.ml/reference ordering).
 * Reference: feature/polynomialexpansion/PolynomialExpansion.java:67.
 */
class PolynomialExpansion extends Transformer[PolynomialExpansion] with OneToOne[PolynomialExpansion]
    with HasInputCol[PolynomialExpansion] with HasOutputCol[PolynomialExpansion] {

  final val degree: Param[Int] =
    param[Int]("degree", "Polynomial degree (>=1)", 2, ParamValidators.gtEq(1))
  def setDegree(v: Int): PolynomialExpansion = set(degree, v)
  def getDegree: Int = get(degree)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val deg = getDegree
    val expand = udf { v: Vector =>
      if (v == null) null else PolynomialExpansion.expand(v, deg)
    }
    df.withColumn(getOutputCol, expand(col(getInputCol)))
  }
}
object PolynomialExpansion extends StageLoader[PolynomialExpansion] {
  def load(spark: SparkSession, path: String): PolynomialExpansion =
    ReadWrite.applyParams(new PolynomialExpansion, path)

  /** C(n+d, d) - 1 expanded terms (excludes the constant 1 term). */
  private def polySize(n: Int, d: Int): Int = {
    var r = 1L
    var i = 1
    while (i <= d) { r = r * (n + i) / i; i += 1 }
    require(r <= Int.MaxValue, "polynomial expansion too large")
    r.toInt
  }

  private def expandDense(values: Array[Double], lastIdx: Int, degree: Int,
      multiplier: Double, out: Array[Double], curOut: Int): Int = {
    if (multiplier == 0.0) {
      // do nothing — the output slots stay 0
    } else if (degree == 0 || lastIdx < 0) {
      if (curOut >= 0) out(curOut) = multiplier
    } else {
      val v = values(lastIdx)
      val lastIdx1 = lastIdx - 1
      var alpha = multiplier
      var i = 0
      var curStart = curOut
      while (i <= degree && alpha != 0.0) {
        curStart = expandDense(values, lastIdx1, degree - i, alpha, out, curStart)
        i += 1
        alpha *= v
      }
    }
    // Always advance the cursor by the full block size regardless of the
    // alpha==0 early exit above — a zero element still owns its slots
    // (they remain 0.0); returning the partial cursor would left-shift
    // every later term. polySize(n, 0) == polySize(0, d) == 1, so this
    // also covers the leaf cases.
    curOut + polySize(lastIdx + 1, degree)
  }

  private[feature] def expand(v: Vector, degree: Int): Vector = {
    val n = v.size
    val values = v.toArray
    val size = polySize(n, degree) - 1
    val out = new Array[Double](size)
    expandDense(values, n - 1, degree, 1.0, out, -1)
    Vectors.dense(out)
  }
}

/**
 * DCT: 1-D discrete cosine transform (orthogonal DCT-II; inverse =
 * orthogonal DCT-III), matching jtransforms' `forward(a, true)` /
 * `inverse(a, true)` used by the reference (feature/dct/DCT.java:64).
 */
class DCT extends Transformer[DCT] with OneToOne[DCT]
    with HasInputCol[DCT] with HasOutputCol[DCT] {

  final val inverse: Param[Boolean] =
    param[Boolean]("inverse", "Whether to perform the inverse DCT", false)
  def setInverse(v: Boolean): DCT = set(inverse, v)
  def getInverse: Boolean = get(inverse)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val inv = getInverse
    val dct = udf { v: Vector =>
      if (v == null) null
      else Vectors.dense(if (inv) DCT.dct3(v.toArray) else DCT.dct2(v.toArray))
    }
    df.withColumn(getOutputCol, dct(col(getInputCol)))
  }
}
object DCT extends StageLoader[DCT] {
  def load(spark: SparkSession, path: String): DCT = ReadWrite.applyParams(new DCT, path)

  /** Per-JVM memoized cosine matrix, [k*n + i] = cos(π(i+0.5)k/n).
    * The naive transform spent ~99% of its time in math.cos (n² cos
    * calls per ROW); the table makes the hot loop pure multiply-add
    * with bit-identical results, at n² doubles per distinct dimension
    * (80 KB for n=100) built once per executor JVM. Bounded: a table
    * is only memoized for n ≤ [[MaxTableDim]] and while the cache
    * total stays under [[MaxCacheBytes]] (a single ragged n=50k
    * vector would otherwise pin 20 GB); above the bounds the loops
    * fall back to direct math.cos — same results, O(1) memory. */
  private val MaxTableDim = 4096 // n² doubles: 4096 → 128 MB, the per-entry ceiling
  private[feature] val MaxCacheBytes = 512L << 20
  private[feature] val cachedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cosTables = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  /** Null when the dimension is outside the memo bounds. The budget
    * is RESERVED with addAndGet before building (rolled back if the
    * reservation overshoots or another thread built the same table
    * first): a plain check-then-build would let 32 racing first
    * calls for distinct dims each pass the check and collectively
    * commit ~4 GB past the cap. */
  private[feature] def cosTable(n: Int): Array[Double] = {
    if (n > MaxTableDim) return null
    val hit = cosTables.get(n)
    if (hit != null) return hit
    val bytes = 8L * n * n
    if (cachedBytes.addAndGet(bytes) > MaxCacheBytes) {
      cachedBytes.addAndGet(-bytes)
      // the cap may be transiently exceeded by RESERVATIONS of racing
      // first calls for this same dim — if the winner has already
      // installed the table, serve it rather than falling back
      return cosTables.get(n)
    }
    val t = new Array[Double](n * n)
    var k = 0
    while (k < n) {
      var i = 0
      while (i < n) { t(k * n + i) = math.cos(math.Pi * (i + 0.5) * k / n); i += 1 }
      k += 1
    }
    val prev = cosTables.putIfAbsent(n, t)
    if (prev != null) { cachedBytes.addAndGet(-bytes); prev } else t
  }

  /** Orthogonal DCT-II. */
  private[feature] def dct2(x: Array[Double]): Array[Double] = {
    val n = x.length
    val t = cosTable(n)
    val out = new Array[Double](n)
    val c0 = math.sqrt(1.0 / n)
    val ck = math.sqrt(2.0 / n)
    var k = 0
    while (k < n) {
      var s = 0.0
      var i = 0
      if (t != null) while (i < n) { s += x(i) * t(k * n + i); i += 1 }
      else while (i < n) { s += x(i) * math.cos(math.Pi * (i + 0.5) * k / n); i += 1 }
      out(k) = s * (if (k == 0) c0 else ck)
      k += 1
    }
    out
  }

  /** Orthogonal DCT-III (inverse of dct2). */
  private[feature] def dct3(x: Array[Double]): Array[Double] = {
    val n = x.length
    val t = cosTable(n)
    val out = new Array[Double](n)
    val c0 = math.sqrt(1.0 / n)
    val ck = math.sqrt(2.0 / n)
    var i = 0
    while (i < n) {
      var s = c0 * x(0)
      var k = 1
      if (t != null) while (k < n) { s += ck * x(k) * t(k * n + i); k += 1 }
      else while (k < n) { s += ck * x(k) * math.cos(math.Pi * (i + 0.5) * k / n); k += 1 }
      out(i) = s
      i += 1
    }
    out
  }
}

/**
 * VectorAssembler: merge numeric/vector columns into one vector;
 * handleInvalid keep (null/NaN filled) / skip (drop row) / error.
 * Reference: feature/vectorassembler/VectorAssembler.java:77.
 *
 * One UDF over one struct of the inputs (numerics cast to double,
 * vectors as they are) assembles each row in two passes: the first sums
 * the output size and the stored-entry count and runs the checks, the
 * second copies every input into one preallocated output. The output is
 * dense when stored entries × 1.5 > size (the reference's RATIO), else
 * sparse; a sparse output stores every entry its inputs store, zeros
 * included (a number's, a dense vector's, a sparse vector's stored ones).
 * Under keep a null input fills its declared size with NaN and a present
 * vector takes its actual size.
 */
class VectorAssembler extends Transformer[VectorAssembler] with OneToOne[VectorAssembler]
    with HasInputCols[VectorAssembler] with HasOutputCol[VectorAssembler]
    with HasHandleInvalid[VectorAssembler] {

  final val inputSizes: Param[Array[Int]] =
    paramNoDefault[Array[Int]]("inputSizes", "Declared size of each input column (1 for numerics)",
      (a: Array[Int]) => a != null && a.forall(_ > 0))
  def setInputSizes(v: Int*): VectorAssembler = set(inputSizes, v.toArray)
  def getInputSizes: Array[Int] = if (isSet(inputSizes)) get(inputSizes) else getInputCols.map(_ => 1)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val cols = getInputCols
    val sizes = getInputSizes
    require(cols.length == sizes.length, "inputCols and inputSizes must align")
    val invalid = getHandleInvalid
    val keep = invalid == HandleInvalid.KEEP
    val (inputs, isNumeric) = VectorAssembler.inputStruct(df, cols)
    val n = cols.length

    val assemble = udf { row: Row =>
      try {
        var size = 0
        var nnz = 0
        var i = 0
        while (i < n) {
          if (row.isNullAt(i)) {
            if (!keep) throw new RuntimeException(
              "Input column value is null. Please check the input data or using handleInvalid = 'keep'.")
            size += sizes(i)
            nnz += sizes(i)
          } else if (isNumeric(i)) {
            if (!keep && row.getDouble(i).isNaN) throw new RuntimeException(
              "Encountered NaN while assembling a row with handleInvalid = 'error'.")
            if (!keep && sizes(i) != 1) throw VectorAssembler.sizeMismatch(sizes(i), 1)
            size += 1
            nnz += 1
          } else {
            val v = row.getAs[Vector](i)
            if (!keep && v.size != sizes(i)) throw VectorAssembler.sizeMismatch(sizes(i), v.size)
            size += v.size
            nnz += v.numActives
          }
          i += 1
        }
        val dense = nnz * 1.5 > size
        val values = new Array[Double](if (dense) size else nnz)
        val indices = if (dense) null else new Array[Int](nnz)
        // output position j gets x: in place when dense, else as the next
        // stored entry (positions only increase)
        var k = 0
        def put(j: Int, x: Double): Unit =
          if (dense) values(j) = x else { indices(k) = j; values(k) = x; k += 1 }
        var offset = 0
        i = 0
        while (i < n) {
          if (row.isNullAt(i)) {
            var j = 0
            while (j < sizes(i)) { put(offset + j, Double.NaN); j += 1 }
            offset += sizes(i)
          } else if (isNumeric(i)) {
            put(offset, row.getDouble(i))
            offset += 1
          } else {
            val v = row.getAs[Vector](i)
            v match {
              case d: DenseVector =>
                var j = 0
                while (j < d.size) { put(offset + j, d.values(j)); j += 1 }
              case s: SparseVector =>
                var j = 0
                while (j < s.indices.length) { put(offset + s.indices(j), s.values(j)); j += 1 }
            }
            offset += v.size
          }
          i += 1
        }
        if (dense) Vectors.dense(values) else Vectors.sparse(size, indices, values)
      } catch {
        case e: Exception if invalid != HandleInvalid.ERROR => null
        case e: Exception =>
          throw new RuntimeException("Vector assembler failed with exception : " + e)
      }
    }

    val out = df.withColumn(getOutputCol, assemble(inputs))
    if (invalid == HandleInvalid.SKIP) out.filter(col(getOutputCol).isNotNull) else out
  }
}
object VectorAssembler extends StageLoader[VectorAssembler] {
  def load(spark: SparkSession, path: String): VectorAssembler =
    ReadWrite.applyParams(new VectorAssembler, path)

  private def sizeMismatch(expected: Int, actual: Int) = new RuntimeException(
    s"Input vector/number size does not meet with expected. Expected size: $expected, actual size: $actual.")

  /** `cols` as one struct for a row UDF (numerics cast to double, vectors
    * as they are), and which of its fields are numeric. */
  private[feature] def inputStruct(df: DataFrame, cols: Seq[String]): (Column, Array[Boolean]) = {
    val isNumeric = cols.map(c => df.schema(c).dataType match {
      case _: NumericType => true
      case SQLDataTypes.VectorType => false
      case t => throw new IllegalArgumentException(
        s"Input column $c must be numeric or a vector, not ${t.simpleString}")
    }).toArray
    val fields = cols.zip(isNumeric).map { case (c, num) => if (num) col(c).cast("double") else col(c) }
    (struct(fields: _*), isNumeric)
  }
}

/**
 * VectorSlicer: select given indices from a vector.
 * Reference: feature/vectorslicer/VectorSlicer.java:63.
 */
class VectorSlicer extends Transformer[VectorSlicer] with OneToOne[VectorSlicer]
    with HasInputCol[VectorSlicer] with HasOutputCol[VectorSlicer] {

  final val indices: Param[Array[Int]] =
    paramNoDefault[Array[Int]]("indices", "Indices to select (distinct, >=0)",
      (a: Array[Int]) => a != null && a.nonEmpty && a.forall(_ >= 0) && a.distinct.length == a.length)
  def setIndices(v: Int*): VectorSlicer = set(indices, v.toArray)
  def getIndices: Array[Int] = get(indices)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val idx = getIndices
    val slice = udf { v: Vector =>
      v match {
        case null => null
        case d: DenseVector => Vectors.dense(idx.map(d.apply))
        case s: SparseVector =>
          val pairs = idx.zipWithIndex.flatMap { case (orig, newI) =>
            val x = s(orig); if (x != 0.0) Some((newI, x)) else None
          }
          Vectors.sparse(idx.length, pairs.map(_._1), pairs.map(_._2))
      }
    }
    df.withColumn(getOutputCol, slice(col(getInputCol)))
  }
}
object VectorSlicer extends StageLoader[VectorSlicer] {
  def load(spark: SparkSession, path: String): VectorSlicer =
    ReadWrite.applyParams(new VectorSlicer, path)
}
