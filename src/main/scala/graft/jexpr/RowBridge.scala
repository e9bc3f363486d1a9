package graft.jexpr

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Direct Spark-value → [[JValue]] bridge: feed the document-mode
  * interpreter from a STRUCT column without a `to_json` + parse round
  * trip. At scale this removes a full serialize/deserialize of every
  * document from the hot path — the interpreter runs over the same tree
  * it would have parsed, built straight from Tungsten-decoded values.
  *
  * Fidelity contract: `convert(schema)(row)` produces exactly the tree
  * `JValue.parse(to_json(struct))` would (differential-tested in
  * RowBridgeSpec), with Spark's JSON-writer defaults mirrored:
  *   - null STRUCT fields are omitted (spark.sql.jsonGenerator
  *     .ignoreNullFields=true default), null ARRAY/MAP entries survive
  *     as JNull;
  *   - DecimalType renders integral (scale<=0) values as JInt, others
  *     as the parsed double, matching what the JSON text round-trip
  *     yields;
  *   - dates/timestamps become the ISO strings the writer emits (UTC
  *     session zone — this engine pins spark.sql.session.timeZone=UTC).
  *
  * Converters are built once per schema on the driver and are plain
  * serializable closures, so a captured converter ships to executors
  * with the UDF and runs allocation-lean per row.
  */
object RowBridge {

  private val utcTs =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .withZone(java.time.ZoneOffset.UTC)

  private val ntzTs =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** Converter for one Spark DataType; null input → JNull at every
    * level (callers decide whether a null is kept or omitted). */
  def converter(dt: DataType): Any => JValue = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      v => JInt(v.asInstanceOf[Number].longValue)
    case DoubleType | FloatType =>
      v => JFloat(v.asInstanceOf[Number].doubleValue)
    case _: DecimalType =>
      v => {
        val bd = v.asInstanceOf[java.math.BigDecimal]
        if (bd.scale <= 0) JInt(bd.longValueExact) else JFloat(bd.doubleValue)
      }
    case StringType  => v => JStr(v.asInstanceOf[String])
    case BooleanType => v => JBool(v.asInstanceOf[Boolean])
    case BinaryType =>
      v => JStr(java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    case DateType => v => JStr(v.toString) // java.sql.Date / LocalDate are both ISO
    case TimestampType =>
      v =>
        JStr(v match {
          case ts: java.sql.Timestamp => utcTs.format(ts.toInstant)
          case i: java.time.Instant   => utcTs.format(i)
          case other                  => other.toString
        })
    case TimestampNTZType =>
      // the JSON writer renders NTZ without a zone suffix
      v =>
        JStr(v match {
          case ldt: java.time.LocalDateTime => ntzTs.format(ldt)
          case other                        => other.toString
        })
    case ArrayType(et, _) =>
      val ec = converter(et)
      v =>
        JArr(v.asInstanceOf[scala.collection.Seq[Any]].iterator
          .map(e => if (e == null) JNull else ec(e)).toVector)
    case MapType(_, vt, _) =>
      val vc = converter(vt)
      v =>
        val b = Fields.newBuilder
        v.asInstanceOf[scala.collection.Map[Any, Any]].foreachEntry { (k, mv) =>
          b.add(String.valueOf(k), if (mv == null) JNull else vc(mv))
        }
        JObj(b.result())
    case st: StructType =>
      val fields = st.fields.map(f => (f.name, converter(f.dataType)))
      v => {
        val row = v.asInstanceOf[Row]
        val b = Fields.newBuilder
        var i = 0
        while (i < fields.length) {
          val cell = row.get(i)
          if (cell != null) b.add(fields(i)._1, fields(i)._2(cell))
          i += 1
        }
        JObj(b.result())
      }
    case NullType => _ => JNull
    case other =>
      throw new IllegalArgumentException(s"RowBridge: unsupported type $other")
  }

  /** Row-level entry: the whole struct row as a document object. */
  def convert(schema: StructType): Row => JValue = {
    val c = converter(schema)
    row => if (row == null) JNull else c(row)
  }
}
