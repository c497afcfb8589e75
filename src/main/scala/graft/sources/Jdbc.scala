package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, Types}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-wide connection checkout — the analogue of the reference's
  * `Pool` trait + state introspection (`connection/mod.rs:51-93`,
  * pool-lifecycle test `integration-tests/tests/postgres.rs:403-439`).
  *
  * `open`/`close` are logical borrow/release: with pooling on (the
  * default), a release parks the physical connection in the bounded
  * per-JVM [[GraftConnectionPool]] for the next task instead of
  * closing it. The opened/closed counters track the borrow/release
  * pairing, so the leak invariant (every checkout returned) stays
  * assertable independent of pooling.
  */
object GraftConnections {
  val opened = new AtomicLong(0)
  val closed = new AtomicLong(0)
  def state: (Long, Long) = (opened.get, closed.get)

  /** Which pool a borrowed connection must be returned to; absent for
    * unpooled (`pool=false`) connections, which close physically. */
  private val borrowedFrom =
    new java.util.concurrent.ConcurrentHashMap[Connection, GraftConnectionPool.Pool]()

  private[sources] def physicalOpen(opts: RemoteOptions): Connection = {
    opts.driverClass.foreach(Class.forName(_))
    val props = new Properties()
    opts.user.foreach(props.setProperty("user", _))
    opts.password.foreach(props.setProperty("password", _))
    DriverManager.getConnection(opts.url, props)
  }

  def open(opts: RemoteOptions): Connection = {
    val c =
      if (opts.poolEnabled) {
        val pool = GraftConnectionPool.poolFor(opts)
        val conn = pool.borrow(() => {
          val pc = physicalOpen(opts)
          pool.physicalOpens.incrementAndGet()
          pc
        }, opts.poolCheckoutTimeoutMs)
        borrowedFrom.put(conn, pool)
        conn
      } else physicalOpen(opts)
    opened.incrementAndGet()
    c
  }

  def close(c: Connection): Unit = {
    try {
      val pool = borrowedFrom.remove(c)
      if (pool != null) pool.release(c) else c.close()
    } finally closed.incrementAndGet()
  }

  def withConnection[T](opts: RemoteOptions)(f: Connection => T): T = {
    val c = open(opts)
    try f(c) finally close(c)
  }

  /** Evict borrowed-map entries whose connection was closed DIRECTLY
    * (bypassing [[close]]): the map entry would otherwise pin the
    * pool's live count forever and eventually manufacture spurious
    * checkout-timeout exhaustion. Called by the pool reaper; returns
    * the number of leaked entries evicted. */
  private[sources] def sweepLeaked(): Int = {
    var n = 0
    val it = borrowedFrom.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val dead =
        try e.getKey.isClosed
        catch { case scala.util.control.NonFatal(_) => true }
      // the MAP REMOVAL is the slot guard: a concurrent close() on the
      // same connection also removes first, so exactly one of
      // sweep/close wins the entry and reclaims the pool slot — evicting
      // before removing would let both decrement `live` and the pool
      // could later exceed maxSize
      if (dead && borrowedFrom.remove(e.getKey, e.getValue)) {
        e.getValue.evictLeaked(); n += 1
      }
    }
    n
  }
}

/** Bounded JVM-wide log of the SQL the readers actually executed —
  * observability for specs (assert a pushdown reached the remote) and
  * for debugging what a scan shipped to the DB. Executors share the
  * driver JVM only under local mode; on a cluster each executor keeps
  * its own recent window, which is exactly what you want when
  * debugging that executor's scans. */
object ScanSqlLog {
  private val max = 64
  private val q = new java.util.concurrent.ConcurrentLinkedDeque[String]()
  def record(sql: String): Unit = {
    q.addLast(sql)
    while (q.size > max) q.pollFirst()
  }
  def recent: Seq[String] = {
    val it = q.iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }
  def clear(): Unit = q.clear()
}

/** JSON-backed nested-struct decode — the Spark-native analogue of the
  * reference assembling Oracle's SdeGeometry object columns into an
  * Arrow StructArray (`connection/oracle.rs:528-650`,
  * `schema.rs:282-331`). The remote carries the struct as a scalar
  * JSON document (the portable cross-DB encoding: Derby VARCHAR,
  * Postgres JSON, Oracle CLOB); the reader parses it straight into an
  * InternalRow against the REQUIRED schema — which, under Spark's
  * nested-schema pruning, may be a SUBSET of the declared struct, so
  * decode follows the pruned shape, never the full declaration.
  * Binary fields travel base64-encoded. */
object JsonStructDecode {
  import com.fasterxml.jackson.databind.JsonNode

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** JSON document → InternalRow of `st` (Catalyst values). */
  def parse(s: String, st: StructType): org.apache.spark.sql.catalyst.InternalRow =
    toRow(mapper.readTree(s), st)

  private def toRow(node: JsonNode, st: StructType)
      : org.apache.spark.sql.catalyst.InternalRow = {
    // a non-object document would decode as an all-NULL row — quiet
    // corruption; fail loudly instead (the surrounding decode policy)
    if (!node.isObject) throw new IllegalArgumentException(
      s"struct column payload is not a JSON object: ${node.getNodeType}")
    val arr = new Array[Any](st.fields.length)
    var i = 0
    while (i < st.fields.length) {
      val f = st.fields(i)
      val n = node.get(f.name)
      arr(i) = if (n == null || n.isNull) null else convert(n, f.dataType)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
  }

  /** Conversions are STRICT: a type-mismatched node (numeric field
    * carrying a string, array field carrying a scalar) throws instead
    * of Jackson's 0/false/empty coercions — the quiet-corruption
    * variant of the non-object guard above. */
  private def bad(n: JsonNode, dt: DataType): Nothing =
    throw new IllegalArgumentException(
      s"JSON struct decode: ${n.getNodeType} node where $dt expected: $n")
  private def num(n: JsonNode, dt: DataType): JsonNode =
    if (n.isNumber) n else bad(n, dt)

  private def convert(n: JsonNode, dt: DataType): Any = dt match {
    case IntegerType => num(n, dt).intValue()
    case LongType => num(n, dt).longValue()
    case ShortType => num(n, dt).shortValue()
    case ByteType => num(n, dt).numberValue().byteValue()
    case DoubleType => num(n, dt).doubleValue()
    case FloatType => num(n, dt).floatValue()
    case BooleanType => if (n.isBoolean) n.booleanValue() else bad(n, dt)
    case StringType =>
      if (n.isTextual) UTF8String.fromString(n.asText()) else bad(n, dt)
    case BinaryType =>
      if (n.isTextual) java.util.Base64.getDecoder.decode(n.asText())
      else bad(n, dt)
    case d: DecimalType =>
      Decimal(BigDecimal(num(n, dt).decimalValue()).setScale(d.scale,
        BigDecimal.RoundingMode.HALF_UP), d.precision, d.scale)
    case nested: StructType => toRow(n, nested)
    case ArrayType(et, _) =>
      if (!n.isArray) bad(n, dt)
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.tabulate[Any](n.size())(i =>
          if (n.get(i).isNull) null else convert(n.get(i), et)))
    case other => throw new IllegalArgumentException(
      s"JSON struct decode: unsupported field type $other")
  }

  /** Field types the JSON struct codec supports, for DECLARATION-time
    * validation — `structcol` with an unsupported type (DATE,
    * TIMESTAMP, MAP) must fail when the option is parsed, not per-row
    * inside executors after the job is scheduled. */
  def validateStructType(st: StructType, ctx: String): Unit =
    st.fields.foreach { f =>
      f.dataType match {
        case IntegerType | LongType | ShortType | ByteType | DoubleType |
             FloatType | BooleanType | StringType | BinaryType |
             _: DecimalType => ()
        case nested: StructType => validateStructType(nested, s"$ctx.${f.name}")
        case ArrayType(et, _) =>
          validateStructType(StructType(Seq(StructField(f.name, et))), ctx)
        case other => throw new IllegalArgumentException(
          s"structcol $ctx: field '${f.name}' has type $other, which the " +
            "JSON struct codec does not support (use a scalar column or " +
            "encode it as STRING/BIGINT)")
      }
    }

  /** InternalRow → JSON document: the WRITE-side inverse of [[parse]]
    * (struct columns travel to the remote as the same scalar JSON the
    * read path decodes — exact round-trip by construction). Binary
    * fields base64-encode; nested structs/arrays recurse. */
  def encode(row: org.apache.spark.sql.catalyst.InternalRow, st: StructType): String = {
    val node = mapper.createObjectNode()
    fillNode(node, row, st)
    mapper.writeValueAsString(node)
  }

  private def fillNode(node: com.fasterxml.jackson.databind.node.ObjectNode,
      row: org.apache.spark.sql.catalyst.InternalRow, st: StructType): Unit = {
    var i = 0
    while (i < st.fields.length) {
      val f = st.fields(i)
      if (row.isNullAt(i)) node.putNull(f.name)
      else encodeValue(node, f.name, row.get(i, f.dataType), f.dataType)
      i += 1
    }
  }

  private def encodeValue(node: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, v: Any, dt: DataType): Unit = dt match {
    case IntegerType => node.put(name, v.asInstanceOf[Int])
    case LongType => node.put(name, v.asInstanceOf[Long])
    case ShortType => node.put(name, v.asInstanceOf[Short].toInt)
    case ByteType => node.put(name, v.asInstanceOf[Byte].toInt)
    case DoubleType => node.put(name, v.asInstanceOf[Double])
    case FloatType => node.put(name, v.asInstanceOf[Float])
    case BooleanType => node.put(name, v.asInstanceOf[Boolean])
    case StringType => node.put(name, v.toString)
    case BinaryType => node.put(name,
      java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    case d: DecimalType => node.put(name, v.asInstanceOf[Decimal].toJavaBigDecimal)
    case nested: StructType =>
      val child = node.putObject(name)
      fillNode(child, v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], nested)
    case ArrayType(et, _) =>
      // element coverage mirrors the decode side exactly (incl. short/
      // byte/decimal/nested structs) — the round-trip contract
      val arr = node.putArray(name)
      val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until ad.numElements()).foreach { i =>
        if (ad.isNullAt(i)) arr.addNull()
        else et match {
          case IntegerType => arr.add(ad.getInt(i))
          case LongType => arr.add(ad.getLong(i))
          case ShortType => arr.add(ad.getShort(i).toInt)
          case ByteType => arr.add(ad.getByte(i).toInt)
          case DoubleType => arr.add(ad.getDouble(i))
          case FloatType => arr.add(ad.getFloat(i))
          case BooleanType => arr.add(ad.getBoolean(i))
          case StringType => arr.add(ad.getUTF8String(i).toString)
          case BinaryType => arr.add(
            java.util.Base64.getEncoder.encodeToString(ad.getBinary(i)))
          case d: DecimalType =>
            arr.add(ad.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
          case nested: StructType =>
            val child = arr.addObject()
            fillNode(child, ad.getStruct(i, nested.fields.length), nested)
          case other => throw new IllegalArgumentException(
            s"JSON struct encode: unsupported array element type $other")
        }
      }
    case other => throw new IllegalArgumentException(
      s"JSON struct encode: unsupported field type $other")
  }
}

object Jdbc {

  /** java.sql.Types -> RemoteType (SURVEY.md §1.3 mapping, driven by
    * result-set metadata like the reference's MySQL/DM/Oracle probes). */
  def remoteType(
      sqlType: Int,
      typeName: String,
      precision: Int,
      scale: Int,
      signed: Boolean): RemoteType = {
    import RemoteType._
    sqlType match {
      case Types.BIT | Types.BOOLEAN => RBool
      case Types.TINYINT => if (signed) RInt1 else RUInt1
      case Types.SMALLINT => if (signed) RInt2 else RUInt2
      case Types.INTEGER => if (signed) RInt4 else RUInt4
      case Types.BIGINT => if (signed) RInt8 else RUInt8
      case Types.REAL => RFloat4
      case Types.FLOAT | Types.DOUBLE => RFloat8
      case Types.NUMERIC | Types.DECIMAL =>
        // Unconstrained NUMERIC probes as p=0 on some drivers; the
        // reference forces a user schema there (postgres.rs:268-319) —
        // we default to a wide decimal.
        if (precision <= 0) RDecimal(38, math.max(scale, 6))
        else RDecimal(precision, scale)
      case Types.CHAR | Types.NCHAR => RChar(math.max(precision, 1))
      case Types.VARCHAR | Types.NVARCHAR => RVarchar(math.max(precision, 1))
      case Types.LONGVARCHAR | Types.LONGNVARCHAR | Types.CLOB | Types.NCLOB
           | Types.SQLXML => RText
      case Types.BINARY => RFixedBinary(math.max(precision, 1))
      case Types.VARBINARY | Types.LONGVARBINARY => RVarBinary(math.max(precision, 1))
      case Types.BLOB => RBinary
      case Types.DATE => RDate
      case Types.TIME | Types.TIME_WITH_TIMEZONE => RTime
      case Types.TIMESTAMP => RTimestampNtz
      case Types.TIMESTAMP_WITH_TIMEZONE => RTimestampTz
      case Types.ARRAY => RArray(RText) // element type unknowable via JDBC alone
      // DuckDB int128 (HUGEINT/UHUGEINT): the driver reports
      // JAVA_OBJECT with precision 0, but getBigDecimal reads the full
      // 39-digit value exactly — the one embedded-engine type wider
      // than Decimal128, i.e. the live decimalmode surface
      case _ if typeName.equalsIgnoreCase("HUGEINT") ||
        typeName.equalsIgnoreCase("UHUGEINT") => RDecimal(39, 0)
      case _ => RText // conservative: render as string
    }
  }

  /** Apply the decimalmode option to an inferred schema: under
    * `clamp38`, remote decimals wider than Decimal128 trade the default
    * lossless stringify for numeric semantics with loud overflow. */
  private[sources] def applyDecimalMode(rs: RemoteSchema,
      opts: RemoteOptions): RemoteSchema =
    if (opts.decimalMode != "clamp38") rs
    else RemoteSchema(rs.fields.map { f =>
      f.tpe match {
        case RemoteType.RDecimal(p, s) if p > DecimalType.MAX_PRECISION =>
          f.copy(tpe = RemoteType.RDecimalClamp(p, s))
        case _ => f
      }
    })

  /** Shared clamp38 decode: exact when the value fits
    * DECIMAL(38, clampedScale), ArithmeticException otherwise. LOUD on
    * BOTH loss directions (round-12 ADVICE — the old HALF_UP setScale
    * silently rounded away fractional digits when the remote scale
    * exceeded the clamped scale, contradicting RDecimalClamp's
    * loud-failure contract): integer-digit overflow AND fractional
    * precision loss each throw with the decimalmode=string way out. */
  private def clampDecode(v: java.math.BigDecimal, f: RemoteField,
      s: Int): Decimal = {
    def loud(what: String): Nothing = throw new ArithmeticException(
      s"decimalmode=clamp38: column ${f.name} (remote ${f.tpe.typeName}) " +
        s"value ${v.toPlainString} $what DECIMAL(38,$s) — use the " +
        "default decimalmode=string for lossless reads of this column")
    if (v.stripTrailingZeros.scale > s)
      loud("has fractional digits that do not fit")
    val scaled = v.setScale(s, java.math.RoundingMode.UNNECESSARY)
    if (scaled.precision > DecimalType.MAX_PRECISION)
      loud("does not fit")
    Decimal(BigDecimal(scaled), DecimalType.MAX_PRECISION, s)
  }

  /** Infer the remote schema: system-catalog inference first for table
    * sources (per-dialect, reference `connection/postgres.rs:107-157` —
    * identity detection straight from the catalog, not the driver's
    * `isAutoIncrement`), falling back to the generic 1-row probe +
    * result-set metadata (reference `connection/mysql.rs:83-92`,
    * `connection/dm/mod.rs:91-106`). */
  def inferSchema(opts: RemoteOptions): RemoteSchema = {
    val inferred = GraftConnections.withConnection(opts) { c =>
      val viaCatalog = opts.source match {
        case RemoteSource.TableRef(parts) =>
          try opts.dialect.catalogInference(c, parts)
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
      viaCatalog.getOrElse(probeSchema(c, opts))
    }
    applyDecimalMode(overlayStructCols(inferred, opts.structCols), opts)
  }

  /** Re-type user-declared struct columns: the remote probe sees a
    * scalar (VARCHAR/JSON/CLOB) column; `structcol.<name>` declares its
    * JSON payload decodes as a typed struct — the user-schema analogue
    * of the reference's SdeGeometry mapping (`schema.rs:282-331`). */
  def overlayStructCols(rs: RemoteSchema,
      structCols: Map[String, StructType]): RemoteSchema =
    if (structCols.isEmpty) rs
    else {
      val unknown = structCols.keys.filterNot(n =>
        rs.fields.exists(_.name.equalsIgnoreCase(n)))
      require(unknown.isEmpty,
        s"structcol declared for absent column(s): ${unknown.mkString(", ")}")
      structCols.foreach { case (n, st) =>
        JsonStructDecode.validateStructType(st, n)
      }
      RemoteSchema(rs.fields.map { f =>
        structCols.collectFirst {
          case (n, st) if n.equalsIgnoreCase(f.name) =>
            f.copy(tpe = RemoteType.RStruct(st.fields.toSeq.map(sf =>
              RemoteField(sf.name, RemoteType.fromSpark(sf.dataType), sf.nullable))))
        }.getOrElse(f)
      })
    }

  /** Generic probe-based inference (any SELECT-capable backend). */
  private[sources] def probeSchema(c: java.sql.Connection, opts: RemoteOptions): RemoteSchema = {
    val sql = opts.dialect.probeQuery(opts.source)
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val fields = (1 to md.getColumnCount).map { i =>
        RemoteField(
          name = md.getColumnLabel(i),
          tpe = remoteType(md.getColumnType(i), md.getColumnTypeName(i),
            md.getPrecision(i), md.getScale(i),
            opts.dialect.signedHint(md.getColumnTypeName(i), md.isSigned(i))),
          nullable = md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls,
          autoIncrement = md.isAutoIncrement(i))
      }
      RemoteSchema(fields)
    } finally st.close()
  }

  /** Exact row count with pushed filters (reference COUNT(1) pushdown,
    * `connection/mod.rs:97-118,454-512`). */
  def count(opts: RemoteOptions, filters: Seq[String]): Long =
    GraftConnections.withConnection(opts) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(opts.dialect.countQuery(opts.source, filters))
        rs.next()
        rs.getLong(1)
      } finally st.close()
    }

  /** Per-element Catalyst conversion for array decode (reference decodes
    * Postgres arrays element-wise into typed lists,
    * `connection/postgres.rs:1149-1245`). JDBC gives elements as boxed
    * objects; each is normalized to the InternalRow representation of the
    * declared element type so schema and runtime value always agree. */
  private def catalystElem(t: RemoteType): Any => Any = {
    import RemoteType._
    // Every converter is TOTAL: an element boxing this code does not
    // recognize throws instead of passing an ill-typed value into the
    // InternalRow (the surrounding fail-loudly policy — a corrupt row
    // surfaces much later and far less debuggably than this throw).
    def bad(v: Any): Nothing = throw new IllegalArgumentException(
      s"array element decode for $t: unexpected ${v.getClass.getName} value '$v'")
    def micros(lt: java.time.LocalTime): Long =
      (lt.toSecondOfDay * 1000000L) + lt.getNano / 1000L
    t match {
      case RBool => { case b: java.lang.Boolean => b.booleanValue; case v => bad(v) }
      case RInt1 => v => v.asInstanceOf[Number].byteValue
      case RInt2 | RUInt1 => v => v.asInstanceOf[Number].shortValue
      case RInt4 | RUInt2 => v => v.asInstanceOf[Number].intValue
      case RInt8 | RUInt4 => v => v.asInstanceOf[Number].longValue
      case RFloat4 => v => v.asInstanceOf[Number].floatValue
      case RFloat8 => v => v.asInstanceOf[Number].doubleValue
      case RDecimal(p, s) if p <= DecimalType.MAX_PRECISION => {
        case d: java.math.BigDecimal =>
          Decimal(BigDecimal(d.setScale(s, java.math.RoundingMode.HALF_UP)), p, s)
        case v => Decimal(BigDecimal(v.toString).setScale(s,
          BigDecimal.RoundingMode.HALF_UP), p, s)
      }
      case RBinary | RFixedBinary(_) | RVarBinary(_) => v => v.asInstanceOf[Array[Byte]]
      case RDate => { case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
                      case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
                      case v => bad(v) }
      case RTime => { case t: java.sql.Time => micros(t.toLocalTime)
                      case lt: java.time.LocalTime => micros(lt)
                      case v => bad(v) }
      case RTimestampNtz | RTimestampTz => {
        case ts: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(ts)
        case ldt: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(ldt)
        case odt: java.time.OffsetDateTime => DateTimeUtils.instantToMicros(odt.toInstant)
        case v => bad(v)
      }
      case RUuid => {
        case b: Array[Byte] => b
        case u: java.util.UUID =>
          val bb = java.nio.ByteBuffer.allocate(16)
          bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
          bb.array()
        case s: String =>
          val u = java.util.UUID.fromString(s)
          val bb = java.nio.ByteBuffer.allocate(16)
          bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
          bb.array()
        case v => bad(v)
      }
      case RGeometry => v => v.asInstanceOf[Array[Byte]]
      // string-typed elements render as text; anything else would
      // contradict the declared element type — fail loudly
      case RText | RVarchar(_) | RChar(_) | RJson | RXml =>
        v => UTF8String.fromString(v.toString)
      case other => v => throw new IllegalArgumentException(
        s"array element decode not supported for $other")
    }
  }

  /** Decode a `java.sql.Array` into the boxed elements it carries,
    * tolerating drivers that hand back primitive arrays. */
  private def sqlArrayElements(a: java.sql.Array): Array[Any] = {
    val raw = a.getArray
    val n = java.lang.reflect.Array.getLength(raw)
    Array.tabulate(n)(java.lang.reflect.Array.get(raw, _))
  }

  /** Catalyst-value getter per field — the port of the reference's
    * per-type Arrow builders (`connection/postgres.rs:680-1268` etc.),
    * producing InternalRow-compatible values. It is the connector's one
    * decode table: plain scans, pushed aggregates and the Transform's
    * raw rows all read through it. `requiredType` is the Spark type the
    * reader wants; a struct column decodes against it (under Spark's
    * nested-schema pruning, a subset of the declared struct), every
    * other column dispatches on its remote type. */
  def catalystGetter(f: RemoteField, requiredType: DataType): (ResultSet, Int) => Any = {
    import RemoteType._
    val text: (ResultSet, Int) => Any = (rs, i) => {
      val v = rs.getString(i)
      if (v == null) null else UTF8String.fromString(v)
    }
    f.tpe match {
      case RBool => (rs, i) => { val v = rs.getBoolean(i); if (rs.wasNull()) null else v }
      case RInt1 => (rs, i) => { val v = rs.getByte(i); if (rs.wasNull()) null else v }
      case RInt2 | RUInt1 => (rs, i) => { val v = rs.getShort(i); if (rs.wasNull()) null else v }
      case RInt4 | RUInt2 => (rs, i) => { val v = rs.getInt(i); if (rs.wasNull()) null else v }
      case RInt8 | RUInt4 => (rs, i) => { val v = rs.getLong(i); if (rs.wasNull()) null else v }
      case RUInt8 => (rs, i) => {
        val v = rs.getBigDecimal(i)
        if (v == null) null else Decimal(BigDecimal(v), 20, 0)
      }
      case RFloat4 => (rs, i) => { val v = rs.getFloat(i); if (rs.wasNull()) null else v }
      case RFloat8 => (rs, i) => { val v = rs.getDouble(i); if (rs.wasNull()) null else v }
      case RDecimal(p, s) if p <= DecimalType.MAX_PRECISION => (rs, i) => {
        val v = rs.getBigDecimal(i)
        if (v == null) null
        else Decimal(BigDecimal(v.setScale(s, java.math.RoundingMode.HALF_UP)), p, s)
      }
      case RDecimal(_, _) => (rs, i) => { // p > 38: stringified (Decimal256 gap)
        val v = rs.getBigDecimal(i)
        if (v == null) null else UTF8String.fromString(v.toPlainString)
      }
      case c @ RDecimalClamp(_, _) => (rs, i) => { // decimalmode=clamp38
        val v = rs.getBigDecimal(i)
        if (v == null) null else clampDecode(v, f, c.clampedScale)
      }
      case RChar(_) | RVarchar(_) | RText | RJson | RXml => text
      case RBinary | RFixedBinary(_) | RVarBinary(_) | RUuid | RGeometry => (rs, i) => rs.getBytes(i)
      case RDate => (rs, i) => {
        val v = rs.getDate(i)
        if (v == null) null else DateTimeUtils.fromJavaDate(v)
      }
      case RTime => (rs, i) => { // µs since midnight (SURVEY §1.4 convention)
        val v = rs.getTime(i)
        if (v == null) null else v.toLocalTime.toNanoOfDay / 1000L
      }
      case RTimestampNtz => (rs, i) => {
        val v = rs.getTimestamp(i)
        if (v == null) null
        else DateTimeUtils.localDateTimeToMicros(v.toLocalDateTime)
      }
      case RTimestampTz => (rs, i) => {
        val v = rs.getTimestamp(i)
        if (v == null) null else DateTimeUtils.fromJavaTimestamp(v)
      }
      case RArray(elem) =>
        val conv = catalystElem(elem)
        (rs, i) => {
          val v = rs.getArray(i)
          if (v == null) null
          else new org.apache.spark.sql.catalyst.util.GenericArrayData(
            sqlArrayElements(v).map(e => if (e == null) null else conv(e)))
        }
      case RStruct(_) => requiredType match {
        case st: StructType => (rs, i) => {
          val v = rs.getString(i)
          if (v == null) null else JsonStructDecode.parse(v, st)
        }
        case _ => text
      }
      case _ => text
    }
  }
}
