package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.avro.{AvroRuntimeException, Schema}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro wire format for the message stream (reference C2: Avro key/value
  * with explicitly declared schemas, phone_message_producer.py:302-323;
  * schema-on-write). The environment ships core Avro but not the
  * spark-avro connector, so serde is implemented as custom Catalyst
  * expressions over Avro's binary encoder and decoder — schema passed
  * explicitly, no registry dependency (the registry's 5-byte header is
  * optional wire framing; plain Avro bodies give parity).
  *
  * Supports flat record schemas with string/long/int/double/boolean/
  * bytes fields and nullable ["null", T] unions — the reference's
  * schemas and our MessageStatus/MessageKey are exactly this shape. For
  * that shape the Avro binary encoding is a plain field-by-field
  * sequence, so both expressions resolve the schema once per instance
  * and read or write each field straight off the row, in schema order,
  * the way `GenericDatumReader`/`GenericDatumWriter` would.
  */
object AvroWire {

  /** Avro value schema — mirror of phone_message_producer.py:312-323. */
  val MessageStatusSchema: String =
    """{"type": "record", "name": "MessageStatus", "fields": [
      |  {"name": "status", "type": "string"},
      |  {"name": "phoneNumber", "type": "long"},
      |  {"name": "carrier", "type": "string"},
      |  {"name": "timestamp", "type": "long"}
      |]}""".stripMargin

  /** Avro key schema — mirror of phone_message_producer.py:302-310. */
  val MessageKeySchema: String =
    """{"type": "record", "name": "MessageKey", "fields": [
      |  {"name": "messageId", "type": "string"}
      |]}""".stripMargin

  /** struct -> avro binary (bare body, no framing). */
  def toAvro(data: Column, schemaJson: String): Column =
    Bridge.column(AvroEncode(Bridge.expression(data), schemaJson, None))

  /** avro binary -> struct (schema determines the struct type). */
  def fromAvro(data: Column, schemaJson: String): Column =
    Bridge.column(AvroDecode(Bridge.expression(data), schemaJson, None))

  /** struct -> Confluent Schema-Registry wire format: a 5-byte header
    * (magic 0x00 + big-endian int32 schema id) followed by the Avro
    * body — what the reference's AvroSerializer emits against a
    * registry (phone_message_producer.py:327-340) and what every
    * registry-aware consumer of the topic expects to strip. */
  def toAvroConfluent(data: Column, schemaJson: String, schemaId: Int): Column =
    Bridge.column(AvroEncode(Bridge.expression(data), schemaJson, Some(schemaId)))

  /** Confluent-framed binary -> struct. Validates the magic byte and
    * that the embedded schema id matches `schemaId` (the registry
    * lookup is out of scope offline; the caller pins the id). */
  def fromAvroConfluent(data: Column, schemaJson: String, schemaId: Int): Column =
    Bridge.column(AvroDecode(Bridge.expression(data), schemaJson, Some(schemaId)))

  /** One field of a flat record schema, resolved once. `kind` is the
    * Avro type of the value; for a union, `valueBranch` is the index of
    * its one non-null branch and `nullBranch` that of "null" (-1 when
    * the union has none). Both are -1 for a plain field. */
  private[sources] final class Field(val name: String, val kind: Schema.Type,
      val nullBranch: Int, val valueBranch: Int) {
    def union: Boolean = valueBranch >= 0
  }

  private[sources] def fields(schemaJson: String): Array[Field] = {
    val schema = new Schema.Parser().parse(schemaJson)
    schema.getFields.toArray.map { f0 =>
      val f = f0.asInstanceOf[Schema.Field]
      val s = f.schema()
      if (s.getType != Schema.Type.UNION) new Field(f.name(), checked(s), -1, -1)
      else {
        val types = s.getTypes.toArray.map(_.asInstanceOf[Schema])
        val nonNull = types.indices.filter(types(_).getType != Schema.Type.NULL)
        require(nonNull.length == 1, s"unsupported union $s")
        new Field(f.name(), checked(types(nonNull.head)),
          types.indexWhere(_.getType == Schema.Type.NULL), nonNull.head)
      }
    }
  }

  private def checked(s: Schema): Schema.Type = s.getType match {
    case t @ (Schema.Type.STRING | Schema.Type.LONG | Schema.Type.INT |
        Schema.Type.DOUBLE | Schema.Type.BOOLEAN | Schema.Type.BYTES) => t
    case other => throw new IllegalArgumentException(
      s"AvroWire supports flat primitive schemas; got $other")
  }

  private[sources] def sparkType(kind: Schema.Type): DataType = kind match {
    case Schema.Type.STRING => StringType
    case Schema.Type.LONG => LongType
    case Schema.Type.INT => IntegerType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES => BinaryType
  }

  private[sources] def structOf(fields: Array[Field]): StructType =
    StructType(fields.map(f => StructField(f.name, sparkType(f.kind), nullable = f.union)))

  private[sources] val HeaderBytes = 5

  /** Checks the Confluent header of `raw`: length, magic 0x00 and the
    * big-endian schema id. The Avro body starts right after it. */
  private[sources] def checkHeader(raw: Array[Byte], expected: Int): Unit = {
    require(raw.length >= HeaderBytes && raw(0) == 0,
      s"not Confluent-framed: ${raw.take(HeaderBytes).mkString("[", ",", "]")}")
    val id = ((raw(1) & 0xff) << 24) | ((raw(2) & 0xff) << 16) |
      ((raw(3) & 0xff) << 8) | (raw(4) & 0xff)
    require(id == expected, s"schema id $id, expected $expected")
  }
}

/** struct -> avro-encoded binary. With `confluentId` set, the body is
  * prefixed by the 5-byte registry header (magic 0x00 + int32 BE schema
  * id). This is the producer half of the north-star pipeline, so each
  * row only writes its fields: the schema, the field-to-column mapping,
  * the output buffer and the encoder are set up once per instance.
  * Child columns are matched to schema fields by name; a schema field
  * with no column is written as null. */
case class AvroEncode(child: Expression, schemaJson: String,
    confluentId: Option[Int])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType

  @transient private lazy val fields = AvroWire.fields(schemaJson)
  /** Child ordinal of each schema field, -1 when the child lacks it. */
  @transient private lazy val ordinals: Array[Int] = {
    val in = child.dataType.asInstanceOf[StructType]
    in.fields.foreach { c =>
      val f = fields.find(_.name == c.name).getOrElse(
        throw new AvroRuntimeException(s"Not a valid schema field: ${c.name}"))
      if (c.dataType != AvroWire.sparkType(f.kind)) throw new IllegalArgumentException(
        s"cannot write ${c.dataType} as avro ${f.kind} (field ${c.name})")
    }
    fields.map(f => in.fieldNames.indexOf(f.name))
  }
  @transient private lazy val out = new ByteArrayOutputStream()
  // unbuffered: string bodies are written to `out` directly, between
  // the encoder's own writes
  @transient private lazy val enc: BinaryEncoder =
    EncoderFactory.get().directBinaryEncoder(out, null)

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    out.reset()
    confluentId.foreach { id =>
      out.write(0) // magic byte
      out.write((id >>> 24) & 0xff); out.write((id >>> 16) & 0xff)
      out.write((id >>> 8) & 0xff); out.write(id & 0xff)
    }
    var i = 0
    while (i < fields.length) {
      write(row, fields(i), ordinals(i))
      i += 1
    }
    out.toByteArray
  }

  private def write(row: InternalRow, f: AvroWire.Field, o: Int): Unit =
    if (o < 0 || row.isNullAt(o)) {
      if (f.nullBranch < 0)
        throw new NullPointerException(s"null value for non-nullable field ${f.name}")
      enc.writeIndex(f.nullBranch)
    } else {
      if (f.union) enc.writeIndex(f.valueBranch)
      f.kind match {
        case Schema.Type.STRING =>
          val s = row.getUTF8String(o)
          enc.writeInt(s.numBytes()); s.writeTo(out)
        case Schema.Type.LONG => enc.writeLong(row.getLong(o))
        case Schema.Type.INT => enc.writeInt(row.getInt(o))
        case Schema.Type.DOUBLE => enc.writeDouble(row.getDouble(o))
        case Schema.Type.BOOLEAN => enc.writeBoolean(row.getBoolean(o))
        case Schema.Type.BYTES => enc.writeBytes(row.getBinary(o))
      }
    }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** avro binary -> struct. With `confluentId` set, expects the 5-byte
  * registry header, validates magic and schema id, and decodes the body
  * in place after it. This is the consumer half of the north-star
  * pipeline: the schema is resolved once per instance and one decoder is
  * reused across rows; each row gets its own value array and string
  * bytes, so no row shares a buffer with the next. */
case class AvroDecode(child: Expression, schemaJson: String,
    confluentId: Option[Int])
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val fields = AvroWire.fields(schemaJson)
  @transient override lazy val dataType: DataType = AvroWire.structOf(fields)
  @transient private var decoder: BinaryDecoder = _

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[Array[Byte]]
    val start = confluentId match {
      case None => 0
      case Some(expected) => AvroWire.checkHeader(raw, expected); AvroWire.HeaderBytes
    }
    val limit = raw.length - start
    decoder = DecoderFactory.get().binaryDecoder(raw, start, limit, decoder)
    val values = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      values(i) = read(fields(i), limit)
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def read(f: AvroWire.Field, limit: Int): Any = {
    val isNull = f.union && {
      val b = decoder.readIndex()
      if (b != f.valueBranch && (b < 0 || b != f.nullBranch))
        throw new AvroRuntimeException(s"union branch $b out of range for ${f.name}")
      b != f.valueBranch
    }
    if (isNull) null else f.kind match {
      case Schema.Type.STRING => UTF8String.fromBytes(bytes(limit))
      case Schema.Type.LONG => decoder.readLong()
      case Schema.Type.INT => decoder.readInt()
      case Schema.Type.DOUBLE => decoder.readDouble()
      case Schema.Type.BOOLEAN => decoder.readBoolean()
      case Schema.Type.BYTES => bytes(limit)
    }
  }

  /** A length-prefixed string or bytes body, copied into its own array. */
  private def bytes(limit: Int): Array[Byte] = {
    val n = decoder.readInt()
    if (n < 0 || n > limit)
      throw new AvroRuntimeException(s"Malformed data. Length is $n")
    val b = new Array[Byte](n)
    decoder.readFixed(b, 0, n)
    b
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
