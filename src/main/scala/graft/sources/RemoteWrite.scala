package graft.sources

import java.sql.{Connection, PreparedStatement}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Remote INSERT — the port of `RemoteTableInsertExec`
  * (`insert.rs:15-205`, `table.rs:428-466`):
  *   - append semantics by default; Overwrite/Replace rejected exactly
  *     like the reference (`table.rs:434-441`) unless the user opts in
  *     with `allowoverwrite=true` (truncate-and-append; atomic when
  *     combined with `stagingwrite=true`);
  *   - rows buffered per `batchsize` and flushed as one statement;
  *   - auto-increment columns whose buffered values are ALL NULL are
  *     stripped so the remote DB generates ids (`insert.rs:157-205`);
  *   - default path binds a `PreparedStatement` batch (injection-safe,
  *     faster); `literalinsert=true` renders multi-row literal SQL via
  *     the overridable [[Literalizer]] — the reference's Literalize
  *     trait (`literalize.rs:46-624`).
  */
class RemoteWriteBuilder(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    writeSchema: StructType,
    truncateFirst: Boolean = false)
  extends WriteBuilder with SupportsTruncate {

  /** `mode("overwrite")` lands here (Spark's OverwriteByExpression with
    * an always-true predicate prefers truncate()). Parity default is
    * the reference's reject; `allowoverwrite=true` opts in. */
  override def truncate(): WriteBuilder = {
    if (!opts.allowOverwrite) throw new UnsupportedOperationException(
      "graft-remote is append-only by default (reference table.rs:434-441); " +
        "set allowoverwrite=true to enable truncate-and-append overwrite " +
        "(atomic with stagingwrite=true)")
    if (opts.mergeKeys.nonEmpty) throw new UnsupportedOperationException(
      "mergekeys (keyed upsert) contradicts overwrite: an upsert batch " +
        "reconciles with existing rows, a truncate discards them — drop " +
        "one of the two")
    new RemoteWriteBuilder(opts, remoteSchema, writeSchema, truncateFirst = true)
  }

  private def batchWrite: BatchWrite =
    if (opts.stagingWrite)
      new StagedRemoteBatchWrite(opts, remoteSchema, writeSchema, truncateFirst)
    else new RemoteBatchWrite(opts, remoteSchema, writeSchema, truncateFirst)

  override def build(): Write = opts.writePartitions match {
    case None => new Write {
      override def toBatch: BatchWrite = batchWrite
    }
    // `writepartitions=N` caps the write stage's task count through
    // Spark's own sink-negotiation API (RequiresDistributionAndOrdering
    // — the mechanism file sinks use to control layout), so the remote
    // sees at most N concurrent writers no matter how the input was
    // partitioned. Spark rejects a bare partition count without a
    // distribution, so rows hash over ALL write columns (uniform,
    // content-defined); the explicit N also keeps AQE from coalescing
    // the shuffle. Measured on Derby (single internal writer lock):
    // MORE writers is SLOWER — see BASELINE.md; remote engines with a
    // real lock manager want N ≈ their ingest parallelism instead.
    case Some(n) => new Write with RequiresDistributionAndOrdering {
      override def toBatch: BatchWrite = batchWrite
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          writeSchema.fields.map(f =>
            org.apache.spark.sql.connector.expressions.Expressions
              .column(f.name): org.apache.spark.sql.connector.expressions.Expression))
      override def requiredNumPartitions(): Int = n
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        Array.empty
    }
  }
}

/** Written fields map to remote columns BY NAME (the contract that
  * lets writers omit auto-increment columns). SQL `INSERT INTO t
  * VALUES ...` reaches an ACCEPT_ANY_SCHEMA table with synthetic
  * col1..colN names (Spark skips output resolution) — ONLY when every
  * write column carries such a synthetic name and the arity matches
  * the remote table exactly do we fall back to positional mapping.
  * Any other all-miss (e.g. a DataFrame whose columns are simply
  * misnamed) stays a loud error: silent positional guessing could
  * scramble columns whose types happen to coincide. */
private[sources] object WriteFields {
  private val SyntheticCol = "(?i)col\\d+".r
  def resolve(remoteSchema: RemoteSchema, writeSchema: StructType): Array[RemoteField] = {
    val byName = remoteSchema.fields.map(f => f.name.toLowerCase -> f).toMap
    val resolved = writeSchema.fields.map(f => byName.get(f.name.toLowerCase))
    val allSynthetic =
      writeSchema.fields.forall(f => SyntheticCol.matches(f.name))
    if (resolved.forall(_.isDefined)) resolved.map(_.get)
    else if (resolved.forall(_.isEmpty) && allSynthetic &&
        writeSchema.fields.length == remoteSchema.fields.length)
      remoteSchema.fields.toArray
    else writeSchema.fields.map(f => remoteSchema(f.name)) // loud error
  }
}

final case class RemoteCommit(rows: Long) extends WriterCommitMessage

class RemoteBatchWrite(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    writeSchema: StructType,
    truncateFirst: Boolean = false)
  extends BatchWrite {

  require(opts.ledgerTable.isEmpty,
    "ledgertable requires stagingwrite=true — exactly-once needs the " +
      "single staged commit transaction to carry the epoch marker")
  require(opts.mergeKeys.isEmpty,
    "mergekeys requires stagingwrite=true — the upsert IS the staged " +
      "commit's MERGE statement (direct tasks would race their upserts)")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (truncateFirst) {
      // driver-side, before any task launches; committed on its own —
      // the direct path is documented non-atomic (staging is the
      // atomic-replace path). Concretely: a job that dies between this
      // DELETE and its first task commit leaves the target EMPTY — a
      // data-loss window a casual overwrite user may not expect, so say
      // it loudly at the moment the risk is taken.
      System.err.println(
        s"[graft] WARNING: non-atomic overwrite of ${opts.source}: the " +
          "target is deleted BEFORE tasks run, so a failed job can leave " +
          "it empty. Set stagingwrite=true for atomic truncate-and-append " +
          "(readers see the old rows or all new rows, never neither).")
      val parts = opts.source match {
        case RemoteSource.TableRef(p) => p
        case RemoteSource.Query(_) =>
          throw new UnsupportedOperationException("cannot overwrite a query source")
      }
      val conn = GraftConnections.open(opts)
      try {
        val st = conn.createStatement()
        try st.executeUpdate(opts.dialect.deleteAllSql(parts)) finally st.close()
      } finally GraftConnections.close(conn)
    }
    new RemoteDataWriterFactory(opts, remoteSchema, writeSchema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** JOB-atomic append (`stagingwrite=true`, beyond-reference surface):
  * tasks write into a fresh staging table (exactly-once per partition —
  * Spark's commit coordinator admits one attempt, and each task is one
  * transaction); at job commit the whole batch moves into the target
  * with ONE transactional `INSERT INTO target SELECT FROM staging`, so
  * readers of the target see all of the append or none of it, even if
  * the job dies half-written. Auto-increment columns that stayed
  * all-NULL across the WHOLE job are stripped from the final insert
  * (the per-task form of `insert.rs:157-205`, lifted to job scope).
  * The direct path (default) matches the reference: task-level
  * atomicity only. */
class StagedRemoteBatchWrite(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    writeSchema: StructType,
    truncateFirst: Boolean = false)
  extends BatchWrite {

  private val targetParts: Seq[String] = opts.source match {
    case RemoteSource.TableRef(parts) => parts
    case RemoteSource.Query(_) =>
      throw new UnsupportedOperationException("cannot INSERT into a query source")
  }
  private val stagingName: String =
    s"GRAFT_STG_${java.util.UUID.randomUUID().toString.replace("-", "").take(10).toUpperCase}"
  private val stagingParts: Seq[String] = targetParts.init :+ stagingName
  private val dialect = opts.dialect

  private val writeFields: Array[RemoteField] =
    WriteFields.resolve(remoteSchema, writeSchema)
  // staging columns are plain nullable columns: identity values (even
  // NULL ones) land in staging verbatim, stripping is decided once at
  // job commit over the whole batch
  private val stagingRemoteSchema: RemoteSchema =
    RemoteSchema(writeFields.toSeq.map(_.copy(autoIncrement = false,
      nullable = true)))
  private val stagingOpts: RemoteOptions = RemoteOptions(
    opts.map + ("dbtable" -> stagingParts.mkString(".")))

  // driver-side staging DDL, before any task launches
  locally {
    val cols = writeFields.map(f =>
      s"${dialect.quote(f.name)} ${dialect.columnDdlType(f.tpe)}")
    withConn { st =>
      st.executeUpdate(
        s"CREATE TABLE ${dialect.tableName(stagingParts)} (${cols.mkString(", ")})")
    }
  }

  private def withConn[A](f: java.sql.Statement => A): A = {
    val conn = GraftConnections.open(opts)
    try {
      val st = conn.createStatement()
      try f(st) finally st.close()
    } finally GraftConnections.close(conn)
  }

  private def dropStaging(): Unit =
    try withConn(_.executeUpdate(s"DROP TABLE ${dialect.tableName(stagingParts)}"))
    catch { case _: java.sql.SQLException => () }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RemoteDataWriterFactory(stagingOpts, stagingRemoteSchema, writeSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    try {
      val conn = GraftConnections.open(opts)
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          // strip identity columns that stayed all-NULL across the job
          val live = writeFields.filter { f =>
            !f.autoIncrement || {
              val rs = st.executeQuery(s"SELECT COUNT(${dialect.quote(f.name)}) " +
                s"FROM ${dialect.tableName(stagingParts)}")
              rs.next(); val n = rs.getLong(1); rs.close(); n > 0
            }
          }
          val cols = live.map(f => dialect.quote(f.name)).mkString(", ")
          // atomic replace: the DELETE shares the INSERT..SELECT's
          // transaction, so readers see the old rows or the new batch,
          // never the empty table
          if (truncateFirst)
            st.executeUpdate(dialect.deleteAllSql(targetParts))
          if (opts.mergeKeys.nonEmpty) {
            // keyed upsert: resolve keys against the written fields
            // (case-insensitive, like every write-column mapping)
            val keys = opts.mergeKeys.map { k =>
              writeFields.find(_.name.equalsIgnoreCase(k)).getOrElse(
                throw new IllegalArgumentException(
                  s"mergekeys column '$k' is not among the written " +
                    s"columns ${writeFields.map(_.name).mkString(", ")}")).name
            }
            val keySet = keys.map(_.toLowerCase).toSet
            keys.find(k => !live.exists(_.name.equalsIgnoreCase(k))).foreach(
              k => throw new IllegalArgumentException(
                s"mergekeys column '$k' was stripped as an all-NULL " +
                  "auto-increment column — an upsert cannot match on a " +
                  "key the batch never provided"))
            // a batch carrying the same key twice makes MERGE
            // nondeterministic (ANSI: error on double match) — reject
            // it BEFORE the merge with a message that names the cause
            val kq = keys.map(dialect.quote).mkString(", ")
            val rs = st.executeQuery(
              s"SELECT COUNT(1) FROM (SELECT 1 AS C FROM " +
                s"${dialect.tableName(stagingParts)} GROUP BY $kq " +
                "HAVING COUNT(1) > 1) DUPS")
            rs.next(); val dups = rs.getLong(1); rs.close()
            if (dups > 0) throw new IllegalStateException(
              s"upsert batch carries $dups duplicated merge-key group(s) " +
                s"on ($kq) — deduplicate the batch first (e.g. " +
                "graft.operators exactDedup), an upsert must be keyed " +
                "uniquely to be deterministic")
            val updateCols = live.map(_.name)
              .filterNot(n => keySet.contains(n.toLowerCase))
            st.executeUpdate(dialect.mergeSql(targetParts, stagingParts,
              keys, updateCols, live.map(_.name).toSeq))
          } else
          st.executeUpdate(
            s"INSERT INTO ${dialect.tableName(targetParts)} ($cols) " +
            s"SELECT $cols FROM ${dialect.tableName(stagingParts)}")
          // exactly-once ledger: the epoch marker commits in the SAME
          // transaction as the batch's rows — a replayed epoch either
          // sees the marker (and skips) or the PK rejects its second
          // insert here, rolling the duplicate batch back with it
          opts.ledgerTable.zip(opts.ledgerEpoch).foreach { case (lt, ep) =>
            st.executeUpdate(
              s"INSERT INTO ${dialect.tableName(targetParts.init :+ lt)} " +
                s"(EPOCH) VALUES ($ep)")
          }
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        } finally st.close()
      } finally GraftConnections.close(conn)
    } finally dropStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = dropStaging()
}

class RemoteDataWriterFactory(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    writeSchema: StructType)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RemoteDataWriter(opts, remoteSchema, writeSchema)
}

class RemoteDataWriter(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    writeSchema: StructType)
  extends DataWriter[InternalRow] {

  private val table: String = opts.source match {
    case RemoteSource.TableRef(parts) => opts.dialect.tableName(parts)
    case RemoteSource.Query(_) =>
      throw new UnsupportedOperationException("cannot INSERT into a query source")
  }

  private val fields: Array[RemoteField] =
    WriteFields.resolve(remoteSchema, writeSchema)
  private val sparkTypes: Array[DataType] = writeSchema.fields.map(_.dataType)
  private val autoIncIdx: Set[Int] =
    fields.zipWithIndex.collect { case (f, i) if f.autoIncrement => i }.toSet

  private val conn: Connection = GraftConnections.open(opts)
  /** Task-level atomicity: the whole task writes in ONE transaction,
    * committed at DataWriter.commit and rolled back at abort — so a
    * failed/speculated/retried task never leaves partial batches behind
    * (without this, every mid-task failure at 100 TB scale is silent
    * duplicate rows on retry). Job-level atomicity is not promised —
    * same contract as Spark's JDBC writer. Drivers without transaction
    * support fall back to auto-commit (at-least-once, logged). */
  private val transactional: Boolean =
    try { conn.setAutoCommit(false); true }
    catch { case _: java.sql.SQLException => false }
  private val literalizer: Literalizer = opts.map.get("literalizerclass") match {
    case Some(c) => Class.forName(c).getDeclaredConstructor()
      .newInstance().asInstanceOf[Literalizer]
    case None => DefaultLiteralizer
  }

  private val buffer = new scala.collection.mutable.ArrayBuffer[Array[Any]]()
  private var written = 0L

  override def write(row: InternalRow): Unit = {
    val arr = new Array[Any](sparkTypes.length)
    var i = 0
    while (i < sparkTypes.length) {
      arr(i) =
        if (row.isNullAt(i)) null
        else row.get(i, sparkTypes(i)) match {
          // UnsafeRow values are views into a buffer Spark reuses across
          // rows — copy anything reference-like before buffering
          case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
          case r: InternalRow => r.copy()
          case other => other
        }
      i += 1
    }
    buffer += arr
    if (buffer.length >= opts.batchSize) flush()
  }

  /** Columns to emit this batch: auto-increment columns with any
    * non-NULL value stay; all-NULL auto-increment columns are stripped
    * (reference `insert.rs:157-205`). */
  private def liveColumns(): Array[Int] =
    sparkTypes.indices.filter { i =>
      !autoIncIdx.contains(i) || buffer.exists(_(i) != null)
    }.toArray

  private def flush(): Unit = {
    if (buffer.isEmpty) return
    val cols = liveColumns()
    if (opts.literalInsert) flushLiteral(cols) else flushPrepared(cols)
    written += buffer.length
    buffer.clear()
  }

  private def insertPrefix(cols: Array[Int]): String = {
    val names = cols.map(i => opts.dialect.quote(fields(i).name)).mkString(", ")
    s"INSERT INTO $table ($names) VALUES "
  }

  private def flushPrepared(cols: Array[Int]): Unit = {
    val placeholders = cols.map(_ => "?").mkString("(", ", ", ")")
    val ps = conn.prepareStatement(insertPrefix(cols) + placeholders)
    try {
      buffer.foreach { row =>
        cols.zipWithIndex.foreach { case (ci, pi) =>
          bind(ps, pi + 1, row(ci), sparkTypes(ci))
        }
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  /** Multi-row literal INSERT — reference `insert.rs:87-126`. */
  private def flushLiteral(cols: Array[Int]): Unit = {
    val rowsSql = buffer.map { row =>
      cols.map(ci => literalizer.literal(row(ci), fields(ci), sparkTypes(ci),
        opts.dialect)).mkString("(", ", ", ")")
    }.mkString(", ")
    val st = conn.createStatement()
    try st.executeUpdate(insertPrefix(cols) + rowsSql)
    finally st.close()
  }

  private def bind(ps: PreparedStatement, idx: Int, v: Any, dt: DataType): Unit = {
    if (v == null) { ps.setObject(idx, null); return }
    dt match {
      case StringType => ps.setString(idx, v.toString)
      case IntegerType => ps.setInt(idx, v.asInstanceOf[Int])
      case LongType => ps.setLong(idx, v.asInstanceOf[Long])
      case ShortType => ps.setShort(idx, v.asInstanceOf[Short])
      case ByteType => ps.setByte(idx, v.asInstanceOf[Byte])
      case BooleanType => ps.setBoolean(idx, v.asInstanceOf[Boolean])
      case FloatType => ps.setFloat(idx, v.asInstanceOf[Float])
      case DoubleType => ps.setDouble(idx, v.asInstanceOf[Double])
      case _: DecimalType =>
        ps.setBigDecimal(idx, v.asInstanceOf[Decimal].toJavaBigDecimal)
      case BinaryType => ps.setBytes(idx, v.asInstanceOf[Array[Byte]])
      case DateType =>
        ps.setDate(idx, DateTimeUtils.toJavaDate(v.asInstanceOf[Int]))
      case TimestampType =>
        ps.setTimestamp(idx, DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long]))
      case TimestampNTZType =>
        ps.setTimestamp(idx, java.sql.Timestamp.valueOf(
          DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])))
      case ArrayType(elem, _) =>
        // drivers without createArrayOf raise SQLFeatureNotSupported — a
        // clear failure beats binding a stringified array
        val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val ext = (0 until ad.numElements()).map { i =>
          if (ad.isNullAt(i)) null
          else ad.get(i, elem) match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case d: Decimal => d.toJavaBigDecimal
            case o => o.asInstanceOf[AnyRef]
          }
        }.toArray[AnyRef]
        // SQL type name, not Spark's simpleString ("STRING"/"INT" are not
        // valid element type names to array-capable drivers)
        val sqlElem = elem match {
          case StringType => "VARCHAR"
          case IntegerType => "INTEGER"
          case LongType => "BIGINT"
          case ShortType | ByteType => "SMALLINT"
          case DoubleType => "DOUBLE"
          case FloatType => "REAL"
          case BooleanType => "BOOLEAN"
          case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
          case DateType => "DATE"
          case TimestampType | TimestampNTZType => "TIMESTAMP"
          case BinaryType => "VARBINARY"
          case other => throw new IllegalArgumentException(
            s"no SQL array element type for $other")
        }
        ps.setArray(idx, conn.createArrayOf(sqlElem, ext))
      case st: StructType =>
        // write-side of the structcol mapping: struct values travel as
        // the same scalar JSON the read path decodes (exact round-trip)
        ps.setString(idx, JsonStructDecode.encode(
          v.asInstanceOf[InternalRow], st))
      case _ => ps.setString(idx, v.toString)
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    if (transactional) conn.commit()
    RemoteCommit(written)
  }

  override def abort(): Unit =
    if (transactional) {
      try conn.rollback()
      catch { case _: java.sql.SQLException => () } // abort must not mask the cause
    }

  override def close(): Unit = GraftConnections.close(conn)
}

/** Catalyst value → SQL literal rendering — the port of the
  * reference's user-overridable `Literalize` trait
  * (`literalize.rs:46-489`): every method has a default, users override
  * per type and register via option `literalizerclass`. */
trait Literalizer extends Serializable {
  def nullLiteral(field: RemoteField, dialect: Dialect): String = "NULL"
  def booleanLiteral(v: Boolean, dialect: Dialect): String =
    dialect.booleanLiteral(v)
  def integralLiteral(v: Long, dialect: Dialect): String = v.toString
  def floatingLiteral(v: Double, dialect: Dialect): String = v.toString
  def decimalLiteral(v: java.math.BigDecimal, dialect: Dialect): String =
    v.toPlainString
  def stringLiteral(v: String, dialect: Dialect): String =
    dialect.stringLiteral(v)
  def binaryLiteral(v: Array[Byte], field: RemoteField, dialect: Dialect): String =
    dialect.binaryLiteral(v, field.tpe)
  def dateLiteral(days: Int, dialect: Dialect): String =
    // pure java.time: identical wall date to the java.sql.Date round
    // trip (the Julian rebase exists to preserve the displayed date),
    // without the sun.util.calendar module access java.sql.Date needs —
    // so literal-date writes work even in JVMs launched without
    // Spark's --add-opens set
    dialect.dateLiteral(java.time.LocalDate.ofEpochDay(days.toLong))
  def timestampLiteral(micros: Long, ntz: Boolean, dialect: Dialect): String =
    if (ntz) dialect.timestampLiteral(DateTimeUtils.microsToLocalDateTime(micros))
    else dialect.timestampLiteral(
      DateTimeUtils.toJavaTimestamp(micros).toLocalDateTime)

  /** `ARRAY[...]` constructor with element-wise rendering (reference
    * `literalize.rs:382-462`). Dialects without an array constructor get
    * a hard server-side SQL error instead of silently-corrupt data. */
  def arrayLiteral(v: org.apache.spark.sql.catalyst.util.ArrayData,
      elem: DataType, field: RemoteField, dialect: Dialect): String = {
    val elemField = field.tpe match {
      case RemoteType.RArray(e) => RemoteField(field.name, e)
      case _ => field
    }
    (0 until v.numElements()).map { i =>
      literal(if (v.isNullAt(i)) null else v.get(i, elem), elemField, elem, dialect)
    }.mkString("ARRAY[", ", ", "]")
  }

  /** Interval rendering (reference `literalize.rs:267-320`). */
  def intervalLiteral(months: Int, days: Int, micros: Long, dialect: Dialect): String = {
    val secs = java.math.BigDecimal.valueOf(micros, 6).stripTrailingZeros.toPlainString
    s"INTERVAL '$months months $days days $secs seconds'"
  }

  /** Canonical 8-4-4-4-12 hex UUID (reference `literalize.rs:369-379`). */
  def uuidLiteral(v: Array[Byte], dialect: Dialect): String = {
    require(v.length == 16, s"UUID literal needs 16 bytes, got ${v.length}")
    val h = v.map("%02x".format(_)).mkString
    s"'${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20)}'"
  }

  /** WKB geometry (reference `literalize.rs:350-360`). */
  def geometryLiteral(v: Array[Byte], dialect: Dialect): String =
    s"ST_GeomFromWKB(${dialect.binaryLiteral(v)})"

  /** Dispatcher (reference `literalize_array`, `literalize.rs:491-609`).
    * Unknown types FAIL FAST — a quoted `toString` fallback would emit
    * syntactically valid but semantically wrong SQL. */
  def literal(v: Any, field: RemoteField, dt: DataType, dialect: Dialect): String = {
    if (v == null) return nullLiteral(field, dialect)
    dt match {
      case BooleanType => booleanLiteral(v.asInstanceOf[Boolean], dialect)
      case ByteType => integralLiteral(v.asInstanceOf[Byte].toLong, dialect)
      case ShortType => integralLiteral(v.asInstanceOf[Short].toLong, dialect)
      case IntegerType => integralLiteral(v.asInstanceOf[Int].toLong, dialect)
      case LongType => integralLiteral(v.asInstanceOf[Long], dialect)
      case FloatType => floatingLiteral(v.asInstanceOf[Float].toDouble, dialect)
      case DoubleType => floatingLiteral(v.asInstanceOf[Double], dialect)
      case _: DecimalType =>
        decimalLiteral(v.asInstanceOf[Decimal].toJavaBigDecimal, dialect)
      case StringType => stringLiteral(v.toString, dialect)
      case BinaryType => field.tpe match {
        case RemoteType.RUuid => uuidLiteral(v.asInstanceOf[Array[Byte]], dialect)
        case RemoteType.RGeometry => geometryLiteral(v.asInstanceOf[Array[Byte]], dialect)
        case _ => binaryLiteral(v.asInstanceOf[Array[Byte]], field, dialect)
      }
      case DateType => dateLiteral(v.asInstanceOf[Int], dialect)
      case TimestampType => timestampLiteral(v.asInstanceOf[Long], ntz = false, dialect)
      case TimestampNTZType => timestampLiteral(v.asInstanceOf[Long], ntz = true, dialect)
      case ArrayType(elem, _) =>
        arrayLiteral(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          elem, field, dialect)
      case CalendarIntervalType =>
        val iv = v.asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
        intervalLiteral(iv.months, iv.days, iv.microseconds, dialect)
      case _: YearMonthIntervalType =>
        intervalLiteral(v.asInstanceOf[Int], 0, 0L, dialect)
      case _: DayTimeIntervalType =>
        intervalLiteral(0, 0, v.asInstanceOf[Long], dialect)
      case st: StructType =>
        stringLiteral(JsonStructDecode.encode(
          v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], st), dialect)
      case other => throw new IllegalArgumentException(
        s"no SQL literal rendering for Spark type $other (column " +
          s"${field.name}) — provide a custom Literalizer via literalizerclass")
    }
  }
}

object DefaultLiteralizer extends Literalizer
