package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query's output, gathered with
  * `Dataset.observe` on the same action that materializes the output:
  * the row count, a sum of 64-bit row hashes over the exact-valued
  * columns, and per floating-point column a sum and a sum of magnitudes,
  * compared with the relative tolerance `tools/check_oracle.py` uses,
  * because float sums depend on the order partial results merge in. */
final case class Digest(rows: Long, hash: BigDecimal, floats: Seq[(Double, Double)]) {
  def matches(o: Digest): Boolean =
    rows == o.rows && hash == o.hash && floats.size == o.floats.size &&
      floats.zip(o.floats).forall { case ((s, a), (s2, a2)) =>
        (s.isNaN && s2.isNaN) || s == s2 ||
          math.abs(s - s2) <= 1e-9 * math.max(a, a2) + 1e-12
      }

  override def toString: String =
    s"rows=$rows hash=$hash floats=${floats.map(_._1).mkString("[", ",", "]")}"
}

object Digest {
  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def sums(c: Column): Seq[Column] = Seq(sum(c), sum(abs(c)))

  /** `df` with the digest attached; read it with [[of]] after the action. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val fields = df.schema.fields.toSeq
    def ref(f: StructField) = df.col("`" + f.name.replace("`", "``") + "`")
    val exact = fields.filterNot(f => hasFloat(f.dataType)).map(ref)
    val floatCols = fields.filter(f => hasFloat(f.dataType)).flatMap { f =>
      f.dataType match {
        case FloatType | DoubleType => sums(ref(f).cast("double"))
        case ArrayType(FloatType | DoubleType, _) =>
          sums(aggregate(ref(f), lit(0.0), (acc, x) => acc + x.cast("double")))
        // nested floats elsewhere: only presence is order-independent
        case _ => sums(count(ref(f)).cast("double"))
      }
    }
    val hash = if (exact.isEmpty) lit(BigDecimal(0)) else
      coalesce(sum(xxhash64(exact: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0)))
    val obs = Observation()
    val named = (count(lit(1)) +: hash +: floatCols).zipWithIndex.map {
      case (c, i) => c.as(s"d$i") }
    (df.observe(obs, named.head, named.tail: _*), obs)
  }

  /** Waits for the observed metrics; bounded, so a query whose plan lost
    * the observation fails instead of hanging the run. */
  def of(obs: Observation): Digest = {
    val row = Await.result(obs.future, 120.seconds)
    val vals = (0 until row.size).map(i => row.getAs[Any](s"d$i"))
    def dbl(v: Any): Double = v match {
      case null => 0.0
      case n: Number => n.doubleValue
    }
    val hash = vals(1) match {
      case d: java.math.BigDecimal => BigDecimal(d)
      case d: BigDecimal => d
    }
    Digest(vals.head.asInstanceOf[Long], hash,
      vals.drop(2).map(dbl).grouped(2).map(p => (p(0), p(1))).toSeq)
  }
}
