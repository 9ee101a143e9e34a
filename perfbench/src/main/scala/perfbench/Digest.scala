package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, NumericType, StringType, StructType}

/** Row count plus an order-insensitive sum of a 64-bit hash of every column.
  *
  * Hashing every column forces Spark to compute every column, so a column
  * that exists only as a computed expression cannot be pruned away, which a
  * `groupBy().count()` sink allows. The hashes are summed as
  * `decimal(38,0)`, which no number of 64-bit values this benchmark sees
  * can overflow, so ANSI mode never trips. */
final case class Digest(rows: Long, hash: java.math.BigDecimal) {
  override def toString: String = s"$rows:${hash.toPlainString}"
}

object Digest {
  private def ref(df: DataFrame, c: String): Column = df.col("`" + c.replace("`", "``") + "`")
  private def all(df: DataFrame): Seq[Column] = df.columns.toSeq.map(ref(df, _))

  /** Digest of `df` exactly as typed. */
  def of(df: DataFrame): Digest = fromRow(sink(df).head())

  /** The one-row aggregate that [[of]] collects. */
  def sink(df: DataFrame): DataFrame = agg(df, all(df))

  /** Digest that ignores how a codec re-types values: columns in name order,
    * numbers compared as doubles, everything else as its string form. */
  def canonical(df: DataFrame): Digest =
    fromRow(agg(df, df.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case _: NumericType => ref(df, f.name).cast(DoubleType).cast(StringType)
        case _ => ref(df, f.name).cast(StringType)
      }
    }).head())

  /** [[canonical]] of `df` read back with the column types of `like`, the
    * frame that was written: a CSV read that infers `int` for a `bigint`
    * column, or an xlsx read that returns a timestamp as text, still matches
    * when its values round-trip. */
  def canonical(df: DataFrame, like: StructType): Digest =
    canonical(df.select(like.fields.toSeq.map(f => ref(df, f.name).cast(f.dataType).as(f.name)): _*))

  /** [[of]] plus extra aggregates computed in the same job. */
  def withAggs(df: DataFrame, extra: Seq[Column]): (Digest, Row) = {
    val r = agg(df, all(df), extra).head()
    (fromRow(r), r)
  }

  private def agg(df: DataFrame, cols: Seq[Column], extra: Seq[Column] = Nil): DataFrame = {
    val zero = lit(BigDecimal(0)).cast(DecimalType(38, 0))
    df.agg(count(lit(1)), (coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), zero) +: extra): _*)
  }

  private def fromRow(r: Row): Digest = Digest(r.getLong(0), r.getDecimal(1))

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(':')
    Digest(n.toLong, new java.math.BigDecimal(h))
  }
}
