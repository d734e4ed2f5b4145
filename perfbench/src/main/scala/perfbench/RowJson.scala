package perfbench

import com.fasterxml.jackson.core.JsonGenerator
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes collected rows as JSON that `pb/canon.py` decodes into the same
  * Python values DuckDB returns for the same SQL types. Values JSON cannot
  * carry exactly are tagged single-key objects: `$f` (non-finite float),
  * `$dec`, `$date`, `$ts`, `$bin`, `$row` (struct) and `$map`.
  */
object RowJson {
  def write(g: JsonGenerator, schema: StructType, rows: Array[Row]): Unit = {
    g.writeArrayFieldStart("cols")
    schema.fields.foreach(f => g.writeString(f.name))
    g.writeEndArray()
    g.writeArrayFieldStart("rows")
    rows.foreach { r =>
      g.writeStartArray()
      schema.fields.indices.foreach(i =>
        value(g, if (r.isNullAt(i)) null else r.get(i), schema(i).dataType))
      g.writeEndArray()
    }
    g.writeEndArray()
  }

  private def tagged(g: JsonGenerator, tag: String, s: String): Unit = {
    g.writeStartObject(); g.writeStringField(tag, s); g.writeEndObject()
  }

  private def double(g: JsonGenerator, d: Double): Unit =
    if (d.isNaN || d.isInfinite) tagged(g, "$f", d.toString)
    else g.writeNumber(d)

  private def value(g: JsonGenerator, v: Any, t: DataType): Unit =
    if (v == null) g.writeNull()
    else t match {
      case BooleanType => g.writeBoolean(v.asInstanceOf[Boolean])
      case ByteType | ShortType | IntegerType | LongType =>
        g.writeNumber(v.asInstanceOf[Number].longValue)
      case FloatType => double(g, v.asInstanceOf[Float].toDouble)
      case DoubleType => double(g, v.asInstanceOf[Double])
      case _: DecimalType =>
        tagged(g, "$dec", v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case StringType => g.writeString(v.toString)
      case DateType =>
        tagged(g, "$date", v.asInstanceOf[java.sql.Date].toLocalDate.toString)
      case TimestampType =>
        tagged(g, "$ts",
          v.asInstanceOf[java.sql.Timestamp].toLocalDateTime.toString)
      case TimestampNTZType => tagged(g, "$ts", v.toString)
      case BinaryType =>
        tagged(g, "$bin",
          java.util.Base64.getEncoder.encodeToString(
            v.asInstanceOf[Array[Byte]]))
      case ArrayType(et, _) =>
        g.writeStartArray()
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(value(g, _, et))
        g.writeEndArray()
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        g.writeStartObject(); g.writeObjectFieldStart("$row")
        st.fields.indices.foreach { i =>
          g.writeFieldName(st(i).name)
          value(g, if (r.isNullAt(i)) null else r.get(i), st(i).dataType)
        }
        g.writeEndObject(); g.writeEndObject()
      case MapType(kt, vt, _) =>
        g.writeStartObject(); g.writeArrayFieldStart("$map")
        v.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, x) =>
          g.writeStartArray(); value(g, k, kt); value(g, x, vt)
          g.writeEndArray()
        }
        g.writeEndArray(); g.writeEndObject()
      case _ => g.writeString(v.toString)
    }
}
