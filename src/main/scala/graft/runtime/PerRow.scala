package graft.runtime

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.{StructField, StructType}

/** The one per-row Scala lowering of the operators and fixtures: a
  * frame plus fields computed per row by a Scala function, for work
  * with no declarative form (a byte-level container parse, an image
  * decode, a fixture payload built from its id). Everything around it
  * (gates, rollups, joins) stays Catalyst-shaped.
  *
  * It is a typed `Dataset.mapPartitions` under `Encoders.row` of the
  * input schema plus the appended fields, not a UDF:
  *  - each output row, nested structs and arrays included, goes through
  *    one codegen'd serializer;
  *  - an appended struct keeps its declared snake_case field names and
  *    its exact types and nullability (a UDF returning a case class
  *    names fields after the Scala members);
  *  - Spark 4 refuses an untyped Scala UDF (`udf(f, dataType)`) without
  *    a legacy flag, and a typed one cannot return a `Row`.
  *
  * The input columns pass through unchanged. The function runs inside
  * the partition iterator, so what it throws fails the task.
  */
object PerRow {

  /** `df` plus `out`, computed by `f` from column `in`. */
  def append[A](df: DataFrame, in: String, out: StructField)(f: A => Any): DataFrame = {
    val i = df.schema.fieldIndex(in)
    appendFromRow(df, Seq(out))(r => Seq(f(r.getAs[A](i))))
  }

  /** `df` plus `out`, computed together by `f` from column `in`: one
    * value per field, in order.
    */
  def appendAll[A](df: DataFrame, in: String, out: Seq[StructField])(f: A => Seq[Any]): DataFrame = {
    val i = df.schema.fieldIndex(in)
    appendFromRow(df, out)(r => f(r.getAs[A](i)))
  }

  /** `df` plus `out`, computed by `f` from the whole input row. */
  def appendFromRow(df: DataFrame, out: Seq[StructField])(f: Row => Seq[Any]): DataFrame = {
    val width = df.schema.length
    implicit val enc: Encoder[Row] = Encoders.row(StructType(df.schema.fields ++ out))
    df.mapPartitions(_.map { r =>
      val values = new Array[Any](width + out.length)
      var i = 0
      while (i < width) { values(i) = r.get(i); i += 1 }
      f(r).copyToArray(values, width)
      new GenericRow(values)
    })
  }
}
