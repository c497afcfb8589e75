package graft.sources

import org.apache.spark.sql.types._

/** Source-native ("remote") type model, carried alongside the Spark
  * [[StructType]] exactly like the reference keeps a `RemoteSchema`
  * next to the Arrow schema (reference `schema.rs:604-658`).
  *
  * The Spark mapping follows SURVEY.md §1.4:
  *   - unsigned ints widen (u8→Short, u16→Int, u32→Long, u64→Decimal(20,0))
  *     — the same rule Spark's own JDBC source applies;
  *   - DECIMAL(p>38) has no Spark equivalent (Arrow Decimal256 path in
  *     the reference, `schema.rs:100-105`) → rendered as StringType;
  *   - TIME has no Spark type → microseconds-since-midnight LongType;
  *   - fixed-size binary (UUID/GUID) → BinaryType, length enforced by
  *     the writer.
  */
sealed trait RemoteType extends Serializable {
  /** Spark representation of this remote type. */
  def toSpark: DataType
  /** Dialect-neutral DDL-ish display name (diagnostics + codec). */
  def typeName: String
}

object RemoteType {
  case object RBool extends RemoteType { val toSpark = BooleanType; val typeName = "BOOLEAN" }
  case object RInt1 extends RemoteType { val toSpark = ByteType; val typeName = "TINYINT" }
  case object RInt2 extends RemoteType { val toSpark = ShortType; val typeName = "SMALLINT" }
  case object RInt4 extends RemoteType { val toSpark = IntegerType; val typeName = "INTEGER" }
  case object RInt8 extends RemoteType { val toSpark = LongType; val typeName = "BIGINT" }
  case object RUInt1 extends RemoteType { val toSpark = ShortType; val typeName = "TINYINT UNSIGNED" }
  case object RUInt2 extends RemoteType { val toSpark = IntegerType; val typeName = "SMALLINT UNSIGNED" }
  case object RUInt4 extends RemoteType { val toSpark = LongType; val typeName = "INTEGER UNSIGNED" }
  case object RUInt8 extends RemoteType { val toSpark = DecimalType(20, 0); val typeName = "BIGINT UNSIGNED" }
  case object RFloat4 extends RemoteType { val toSpark = FloatType; val typeName = "REAL" }
  case object RFloat8 extends RemoteType { val toSpark = DoubleType; val typeName = "DOUBLE" }
  final case class RDecimal(precision: Int, scale: Int) extends RemoteType {
    // p <= 38 fits DecimalType (Arrow Decimal128); beyond that the
    // reference uses Decimal256 (schema.rs:100-105) which Spark cannot
    // hold -> string by default. decimalmode=clamp38 opts into
    // [[RDecimalClamp]] instead (numeric semantics, loud overflow).
    val toSpark: DataType =
      if (precision <= DecimalType.MAX_PRECISION) DecimalType(precision, scale)
      else StringType
    val typeName = s"DECIMAL($precision,$scale)"
  }
  /** Opt-in numeric mode for remote decimals wider than Spark's
    * Decimal128 (`decimalmode=clamp38`): a remote DECIMAL(p>38,s) —
    * the reference maps p≤76 to Arrow Decimal256, schema.rs:100-105 —
    * reads as Spark DECIMAL(38, min(s,38)). Values that FIT decode
    * exactly and keep arithmetic usable; a value that does NOT fit —
    * integer digits beyond the clamped precision OR fractional digits
    * beyond the clamped scale — fails the scan LOUDLY (an
    * ArithmeticException naming column and value) rather than
    * truncating or rounding silently. The default mode remains the lossless
    * stringify ([[RDecimal]] p>38). `precision`/`scale` keep the
    * remote-native declaration, so Transforms see the true width. */
  final case class RDecimalClamp(precision: Int, scale: Int) extends RemoteType {
    val clampedScale: Int = math.min(scale, DecimalType.MAX_PRECISION)
    val toSpark: DataType = DecimalType(DecimalType.MAX_PRECISION, clampedScale)
    val typeName = s"DECIMAL($precision,$scale)"
  }
  final case class RChar(length: Int) extends RemoteType { val toSpark = StringType; val typeName = s"CHAR($length)" }
  final case class RVarchar(length: Int) extends RemoteType { val toSpark = StringType; val typeName = s"VARCHAR($length)" }
  case object RText extends RemoteType { val toSpark = StringType; val typeName = "TEXT" }
  case object RBinary extends RemoteType { val toSpark = BinaryType; val typeName = "BINARY" }
  final case class RFixedBinary(length: Int) extends RemoteType { val toSpark = BinaryType; val typeName = s"BINARY($length)" }
  /** Bounded bit string (JDBC VARBINARY/LONGVARBINARY, Derby
    * `VARCHAR(n) FOR BIT DATA`). Reads like [[RBinary]]; the writer
    * keeps it apart because Derby refuses to assign a BLOB to it. */
  final case class RVarBinary(length: Int) extends RemoteType { val toSpark = BinaryType; val typeName = s"VARBINARY($length)" }
  case object RDate extends RemoteType { val toSpark = DateType; val typeName = "DATE" }
  /** Time-of-day: no Spark type; convention = microseconds since midnight. */
  case object RTime extends RemoteType { val toSpark = LongType; val typeName = "TIME" }
  /** TZ-naive timestamp (reference `Timestamp(µs, None)`). */
  case object RTimestampNtz extends RemoteType { val toSpark = TimestampNTZType; val typeName = "TIMESTAMP" }
  /** Instant timestamp (reference `Timestamp(µs, "UTC")`). */
  case object RTimestampTz extends RemoteType { val toSpark = TimestampType; val typeName = "TIMESTAMP WITH TIME ZONE" }
  case object RInterval extends RemoteType { val toSpark = CalendarIntervalType; val typeName = "INTERVAL" }
  case object RJson extends RemoteType { val toSpark = StringType; val typeName = "JSON" }
  case object RUuid extends RemoteType { val toSpark = BinaryType; val typeName = "UUID" }
  case object RXml extends RemoteType { val toSpark = StringType; val typeName = "XML" }
  /** WKB geometry payload (reference PostGisGeometry -> Binary, `schema.rs:147`). */
  case object RGeometry extends RemoteType { val toSpark = BinaryType; val typeName = "GEOMETRY" }
  final case class RArray(element: RemoteType) extends RemoteType {
    val toSpark: DataType = ArrayType(element.toSpark, containsNull = true)
    val typeName = s"ARRAY<${element.typeName}>"
  }
  final case class RStruct(fields: Seq[RemoteField]) extends RemoteType {
    val toSpark: DataType = StructType(fields.map(f =>
      StructField(f.name, f.tpe.toSpark, f.nullable)))
    val typeName = s"STRUCT<${fields.map(f => s"${f.name}:${f.tpe.typeName}").mkString(",")}>"
  }

  /** Spark type → remote type (used by user-declared struct columns,
    * where the declaration arrives as Spark DDL). Inverse of `toSpark`
    * on the unambiguous subset; refuses loudly elsewhere. */
  def fromSpark(dt: DataType): RemoteType = dt match {
    case BooleanType => RBool
    case ByteType => RInt1
    case ShortType => RInt2
    case IntegerType => RInt4
    case LongType => RInt8
    case FloatType => RFloat4
    case DoubleType => RFloat8
    case d: DecimalType => RDecimal(d.precision, d.scale)
    case StringType => RText
    case BinaryType => RBinary
    case DateType => RDate
    case TimestampType => RTimestampTz
    case TimestampNTZType => RTimestampNtz
    case s: StructType => RStruct(s.fields.toSeq.map(f =>
      RemoteField(f.name, fromSpark(f.dataType), f.nullable)))
    case a: ArrayType => RArray(fromSpark(a.elementType))
    case other => throw new IllegalArgumentException(
      s"no remote type for Spark type $other")
  }
}

/** Reference `RemoteField` (`schema.rs:604-620`). */
final case class RemoteField(
    name: String,
    tpe: RemoteType,
    nullable: Boolean = true,
    autoIncrement: Boolean = false)
  extends Serializable

/** Reference `RemoteSchema` (`schema.rs:622-658`). */
final case class RemoteSchema(fields: Seq[RemoteField]) extends Serializable {
  def toSpark: StructType =
    StructType(fields.map(f => StructField(f.name, f.tpe.toSpark, f.nullable)))
  def apply(name: String): RemoteField =
    fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no remote field named $name"))
  def fieldNames: Seq[String] = fields.map(_.name)
}
