package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent checksum of a frame that reads every output column.
  *
  * Timing `count()` lets the optimizer prune every expression a query
  * computes; this action instead folds each leaf value of each row into
  * one aggregate row:
  *   - `rows`: the row count;
  *   - `hash`: the sum over rows of xxhash64 of every non-floating leaf
  *     (and the null/NaN/infinity class of each floating leaf), summed as
  *     a decimal so it never overflows;
  *   - `fsum` / `fabs`: the sum and the absolute sum of every finite
  *     floating leaf, compared within a relative tolerance, because the
  *     merge order of partial aggregates moves their last bits.
  * Maps are folded as their sorted entries, ML vectors as their arrays.
  */
final case class Checksum(rows: Long, hash: String, fsum: Double,
    fabs: Double) {
  /** True when `o` is the same output up to floating-point merge order. */
  def matches(o: Checksum, relTol: Double = 1e-6): Boolean =
    rows == o.rows && hash == o.hash && {
      val scale = math.max(math.max(fabs, o.fabs), 1e-12)
      math.abs(fsum - o.fsum) <= relTol * scale &&
        math.abs(fabs - o.fabs) <= relTol * scale
    }

  def toJson: String =
    s"""{"rows":$rows,"hash":"$hash","fsum":${Json.num(fsum)},""" +
      s""""fabs":${Json.num(fabs)}}"""
}

object Checksum {
  private final case class Parts(exact: Seq[Column], fsum: Column,
      fabs: Column)

  private val zero = lit(0.0)

  /** Whether a value of `dt` holds a leaf xxhash64 cannot fold exactly:
    * a floating value, a map (hash rejects maps) or a vector. */
  private def walk(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType | _: MapType | _: UserDefinedType[_] => true
    case ArrayType(e, _) => walk(e)
    case StructType(fs) => fs.exists(f => walk(f.dataType))
    case _ => false
  }

  private def parts(c: Column, dt: DataType): Parts = dt match {
    case FloatType | DoubleType =>
      val d = c.cast(DoubleType)
      val finite = d.isNotNull && !isnan(d) &&
        d =!= lit(Double.PositiveInfinity) &&
        d =!= lit(Double.NegativeInfinity)
      val cls = when(d.isNull, "null").when(isnan(d), "nan")
        .when(d > 0 && !finite, "+inf").when(d < 0 && !finite, "-inf")
        .otherwise("num")
      val v = when(finite, d).otherwise(zero)
      Parts(Seq(cls), v, abs(v))
    case _ if !walk(dt) => Parts(Seq(c), zero, zero)
    case StructType(fs) =>
      val ps = fs.toSeq.map(f => parts(c.getField(f.name), f.dataType))
      Parts(ps.flatMap(_.exact), ps.map(_.fsum).reduce(_ + _),
        ps.map(_.fabs).reduce(_ + _))
    case ArrayType(e, _) =>
      def fold(pick: Parts => Column) =
        coalesce(aggregate(c, zero, (acc, x) => acc + pick(parts(x, e))),
          zero)
      Parts(Seq(size(c), transform(c, x => struct(parts(x, e).exact: _*))),
        fold(_.fsum), fold(_.fabs))
    case MapType(k, v, n) =>
      parts(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k, nullable = false),
        StructField("value", v, n))), containsNull = false))
    case u: UserDefinedType[_] =>
      // the ML vector types are the only UDTs the engine emits
      parts(org.apache.spark.ml.functions.vector_to_array(c),
        ArrayType(DoubleType, containsNull = false))
  }

  def of(df: DataFrame): Checksum = {
    val ps = df.schema.fields.toSeq.map(f => parts(col(s"`${f.name}`"),
      f.dataType))
    val exact = ps.flatMap(_.exact)
    val rowHash = if (exact.isEmpty) lit(0L) else xxhash64(exact: _*)
    val fsum = ps.map(_.fsum).foldLeft(zero)(_ + _)
    val fabs = ps.map(_.fabs).foldLeft(zero)(_ + _)
    val r = df.select(rowHash.cast(DecimalType(38, 0)).as("h"),
      fsum.as("s"), fabs.as("a"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0))),
        coalesce(sum("s"), zero), coalesce(sum("a"), zero))
      .head()
    Checksum(r.getLong(0), r.getDecimal(1).toBigInteger.toString,
      r.getDouble(2), r.getDouble(3))
  }

  def fromJson(m: Map[String, Any]): Checksum = Checksum(
    m("rows").asInstanceOf[Number].longValue, m("hash").toString,
    m("fsum").asInstanceOf[Number].doubleValue,
    m("fabs").asInstanceOf[Number].doubleValue)
}
