package graft.sources

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.sources._

/** What a scan reads from — reference `RemoteSource` (`table.rs:27-31`):
  * either an arbitrary SQL query or a 1-3 part table identifier. The
  * `ListTables` command (reference `table.rs:21-24`) is modeled as an
  * option on the source instead of a third case.
  */
sealed trait RemoteSource extends Serializable
object RemoteSource {
  final case class Query(sql: String) extends RemoteSource
  final case class TableRef(parts: Seq[String]) extends RemoteSource
}

/** Per-backend SQL generation — the port of the reference's
  * `RemoteDbType` dialect logic (`connection/mod.rs:228-512`):
  * identifier quoting, literal rendering, query rewriting with pushed
  * filters/limit, count queries, and the Spark `sources.Filter` →
  * remote-SQL compiler (the analogue of the reference's DataFusion
  * `Expr` unparser, `transform.rs:53-83`, and of Spark JDBC's
  * `JDBCRDD.compileFilter`).
  */
trait Dialect extends Serializable {
  def name: String

  /** Alias for wrapped query sources (reference `__subquery`,
    * `connection/mod.rs:336-380`); Derby overrides — it rejects
    * identifiers starting with an underscore. */
  def subqueryAlias: String = "__subquery"

  def quote(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  def tableName(parts: Seq[String]): String = parts.map(quote).mkString(".")

  /** Row removal for overwrite mode. DELETE (not TRUNCATE) so the
    * statement participates in the caller's transaction — TRUNCATE is
    * DDL on several engines (implicit commit), which would break the
    * staged path's atomic replace. */
  def deleteAllSql(parts: Seq[String]): String = s"DELETE FROM ${tableName(parts)}"

  /** ANSI `MERGE` for the keyed-upsert write mode (`mergekeys=...`):
    * staging rows matched on the key columns update the target in
    * place, unmatched rows insert. `updateCols` may be empty (every
    * written column is a key) — then matches are left untouched and
    * the statement degrades to insert-if-absent. SET columns are
    * unqualified (ANSI: they always name the target). */
  def mergeSql(target: Seq[String], staging: Seq[String], keys: Seq[String],
      updateCols: Seq[String], insertCols: Seq[String]): String = {
    val on = keys.map(k => s"T.${quote(k)} = S.${quote(k)}").mkString(" AND ")
    val upd =
      if (updateCols.isEmpty) ""
      else " WHEN MATCHED THEN UPDATE SET " +
        updateCols.map(c => s"${quote(c)} = S.${quote(c)}").mkString(", ")
    val ins = insertCols.map(quote).mkString(", ")
    val vals = insertCols.map(c => s"S.${quote(c)}").mkString(", ")
    s"MERGE INTO ${tableName(target)} T USING ${tableName(staging)} S " +
      s"ON $on$upd WHEN NOT MATCHED THEN INSERT ($ins) VALUES ($vals)"
  }

  /** Only SELECT-shaped queries are rewritable (reference
    * `connection/mod.rs:239-248`); anything else is scanned as-is with
    * every filter/limit evaluated by Spark. */
  def isRewritable(source: RemoteSource): Boolean = source match {
    case RemoteSource.Query(sql) => sql.trim.toUpperCase.startsWith("SELECT")
    case _: RemoteSource.TableRef => true
  }

  /** `SELECT cols FROM base WHERE f1 AND f2 <limit>` with a query
    * source wrapped as a named subquery (reference
    * `connection/mod.rs:267-385`). `columns == None` renders `*`;
    * `Some(Nil)` (empty projection / count-shaped scans) renders a
    * constant so 0-column row counts stay correct (reference
    * `integration-tests/tests/postgres.rs:237-266`). */
  def rewriteQuery(
      source: RemoteSource,
      filters: Seq[String] = Nil,
      limit: Option[Int] = None,
      columns: Option[Seq[String]] = None,
      orderBy: Seq[String] = Nil,
      offset: Option[Int] = None): String = {
    val select = columns match {
      case None => "*"
      case Some(Nil) => "1"
      case Some(cs) => cs.map(quote).mkString(", ")
    }
    val order =
      if (orderBy.isEmpty) "" else orderBy.mkString(" ORDER BY ", ", ", "")
    applyLimit(s"SELECT $select FROM ${fromClause(source)}${whereClause(filters)}$order",
      limit, offset)
  }

  /** WHERE-clause assembly; MDB overrides (its SQL parser rejects
    * parenthesized predicates). */
  protected def whereClause(filters: Seq[String]): String =
    if (filters.isEmpty) "" else filters.mkString(" WHERE (", ") AND (", ")")

  /** Whether COUNT(1) statistics queries are supported (reference
    * `try_count1_query` returns None for MDB). */
  def supportsCountStatistics: Boolean = true

  /** Whether execution-time runtime filters (broadcast-join IN lists)
    * may be appended to the rewritten SQL. Requires a parser that
    * accepts parenthesized predicates — `x IN (…)` cannot be rendered
    * paren-free, so MDB declines. */
  def supportsRuntimeFilters: Boolean = true

  /** Whether an integer column is SIGNED, given the driver's
    * `ResultSetMetaData.isSigned` and the type name. The default trusts
    * the driver flag (the §1.3 unsigned-widening rule keys off it);
    * dialects whose drivers don't implement it override with name-based
    * detection. */
  def signedHint(typeName: String, driverSigned: Boolean): Boolean =
    driverSigned

  /** System-catalog schema inference for TABLE sources — the
    * per-backend mechanism the reference uses for Postgres
    * (`information_schema.columns` incl. identity / `nextval` default
    * detection, `connection/postgres.rs:107-157,383-398`). `None` means
    * "no catalog path": the generic one-row probe +
    * `ResultSetMetaData` inference runs instead. Implementations must
    * return the SAME field names/types the probe would, since both
    * paths feed the same decode getters. */
  def catalogInference(conn: java.sql.Connection,
      parts: Seq[String]): Option[RemoteSchema] = None

  /** FROM-clause rendering: table name, or a query wrapped as a named
    * subquery. */
  def fromClause(source: RemoteSource): String = source match {
    case RemoteSource.TableRef(parts) => tableName(parts)
    case RemoteSource.Query(sql) => s"(${sql.trim.stripSuffix(";")}) AS $subqueryAlias"
  }

  /** One side of a pushed-down join: project the required columns under
    * their (collision-free) aliases, folding already-pushed filters. */
  def joinSideQuery(source: RemoteSource, filters: Seq[String],
      selectList: Seq[String]): String =
    s"SELECT ${selectList.mkString(", ")} FROM ${fromClause(source)}${whereClause(filters)}"

  /** The pushed-down join itself. Both sides already project unique
    * column names, so the outer list and the ON condition are
    * unqualified. */
  def joinQuery(leftSql: String, rightSql: String, joinTypeSql: String,
      condition: String, outCols: Seq[String]): String =
    s"SELECT ${outCols.map(quote).mkString(", ")} " +
      s"FROM ($leftSql) ${subqueryAlias}L $joinTypeSql ($rightSql) ${subqueryAlias}R " +
      s"ON $condition"

  /** Whether OFFSET can be rendered (Oracle's ROWNUM form cannot). */
  def supportsOffset: Boolean = true

  /** Dialect limit/offset syntax; Oracle overrides with ROWNUM
    * (reference `connection/mod.rs:321-334`), Derby with FETCH FIRST. */
  protected def applyLimit(
      sql: String, limit: Option[Int], offset: Option[Int] = None): String = {
    val off = offset.fold("")(o => s" OFFSET $o")
    limit.fold(sql + off)(n => s"$sql LIMIT $n$off")
  }

  /** Deterministic TABLESAMPLE predicate: the SAME Knuth
    * multiplicative-hash bucket arithmetic as
    * `graft.operators.SampleOps.hashBucket`, rendered as remote SQL —
    * a pushed sample must select the SAME rows the in-engine
    * hash-threshold sample would (reproducible across runs, retries,
    * and engines; a server-side RANDOM() would be none of those).
    * Every intermediate stays below 2^60, so the arithmetic is exact
    * in any 64-bit SQL engine. ANSI `MOD()` spelling (Derby included);
    * operator-only engines override, engines without integer modulo
    * return None (sample stays Spark-side). `column` arrives quoted. */
  def sampleFilterSql(
      column: String, lo: Long, hi: Long, salt: Long): Option[String] = {
    val p = graft.operators.SampleOps.P
    val a = graft.operators.SampleOps.AmodP
    // CAST to BIGINT: engines type MOD by their OPERANDS, so an INT key
    // column would run the multiply in 32-bit arithmetic and overflow
    val bucket = s"MOD((MOD(CAST($column AS BIGINT), $p) + $salt) * $a, $p)"
    Some(if (lo > 0L) s"($bucket >= $lo AND $bucket < $hi)"
    else s"$bucket < $hi")
  }

  /** RENAME TABLE DDL — `ALTER TABLE .. RENAME TO` is the widest
    * spelling (Postgres/MySQL/SQLite/Oracle); Derby overrides with its
    * own `RENAME TABLE` statement. The new name is always unqualified
    * (same schema — the catalog enforces it). */
  def renameTableSql(oldParts: Seq[String], newName: String): String =
    s"ALTER TABLE ${tableName(oldParts)} RENAME TO ${quote(newName)}"

  /** Compile one Spark v2 SortOrder-ish triple to dialect SQL. */
  def sortClause(column: String, descending: Boolean, nullsFirst: Boolean): String = {
    val dir = if (descending) "DESC" else "ASC"
    val nulls = if (nullsFirst) "NULLS FIRST" else "NULLS LAST"
    s"${quote(column)} $dir $nulls"
  }

  /** DDL type for String columns. Documents routinely exceed a few KB,
    * so the default is Derby's VARCHAR ceiling (32672); dialects with
    * an unbounded text type override to TEXT/CLOB. */
  def stringDdlType: String = "VARCHAR(32672)"

  /** Remote DDL column type for a Spark type — used by the catalog's
    * CREATE TABLE. ANSI defaults; dialects override where they deviate.
    * Types without a faithful remote image (arrays, maps, structs) are
    * refused loudly rather than stringified. */
  def ddlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "BOOLEAN"
      case ByteType | ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case StringType => stringDdlType
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case TimestampNTZType | TimestampType => "TIMESTAMP"
      case other => throw new IllegalArgumentException(
        s"no $name DDL type for Spark type $other")
    }
  }

  /** DDL type for a column that must accept every value a column of
    * remote type `t` holds — the staged write's staging columns. */
  def columnDdlType(t: RemoteType): String = ddlType(t.toSpark)

  /** COUNT(1) including pushed filters (reference `connection/mod.rs:454-512`). */
  def countQuery(source: RemoteSource, filters: Seq[String] = Nil): String =
    s"SELECT COUNT(1) FROM ${fromClause(source)}${whereClause(filters)}"

  /** One-row probe used for schema inference (reference `LIMIT 1`
    * rewrites, e.g. `connection/mysql.rs:83-92`). */
  def probeQuery(source: RemoteSource): String =
    rewriteQuery(source, limit = Some(1))

  // ---- literals (reference `connection/mod.rs:413-431` + literalize.rs) ----

  def stringLiteral(s: String): String = "'" + s.replace("'", "''") + "'"

  def binaryLiteral(b: Array[Byte]): String =
    "X'" + b.map("%02X".format(_)).mkString + "'"

  /** Binary literal stored into a column of remote type `t`. */
  def binaryLiteral(b: Array[Byte], t: RemoteType): String = binaryLiteral(b)

  def dateLiteral(d: LocalDate): String = s"DATE '$d'"

  def timestampLiteral(t: LocalDateTime): String = {
    val s = java.sql.Timestamp.valueOf(t).toString
    s"TIMESTAMP '$s'"
  }

  def booleanLiteral(b: Boolean): String = if (b) "TRUE" else "FALSE"

  /** Whether this engine's `CAST(double AS DECIMAL(p,s))` agrees with
    * Spark's cast BIT-FOR-BIT. Spark converts through
    * `BigDecimal.valueOf(double)` — the SHORTEST decimal rendering —
    * then rounds HALF_UP; an engine that instead expands the exact
    * binary value (or truncates, like Derby) disagrees on values such
    * as 1.0000005 at scale 6. Gates the decimal-cast SUM pushdown
    * (`compileAgg`): only dialects VERIFIED to match may push a float
    * column's decimal-disciplined sum. Default false — the safe
    * refusal, like the scalar-fn whitelist. */
  def castDoubleToDecimalMatchesSpark: Boolean = false

  def literal(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case s: String => Some(stringLiteral(s))
    case s: org.apache.spark.unsafe.types.UTF8String => Some(stringLiteral(s.toString))
    case b: Array[Byte] => Some(binaryLiteral(b))
    case b: Boolean => Some(booleanLiteral(b))
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case f: Float =>
      if (f.isNaN || f.isInfinite) None else Some(f.toString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) None else Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.underlying.toPlainString)
    case d: Date => Some(dateLiteral(d.toLocalDate))
    case d: LocalDate => Some(dateLiteral(d))
    case t: Timestamp => Some(timestampLiteral(t.toLocalDateTime))
    case t: LocalDateTime => Some(timestampLiteral(t))
    case t: java.time.Instant =>
      // ONE timezone convention for instant-typed timestamps across all
      // literal-rendering paths (v1 filters, Literalizer writes, V2 join
      // predicates): the JVM default zone, i.e. what java.sql.Timestamp
      // itself renders and what the JDBC write path stores. A UTC
      // rendering here would make a pushed filter disagree with the
      // values the writer inserted on any non-UTC JVM.
      Some(timestampLiteral(Timestamp.from(t).toLocalDateTime))
    case _ => None // unknown type: refuse pushdown rather than mis-render
  }

  // ---- filter compiler ----------------------------------------------------

  /** LIKE-pattern escape for StartsWith/EndsWith/Contains. */
  protected def likeEscape(s: String): String =
    s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

  protected def likeClause(col: String, pattern: String): String =
    s"$col LIKE ${stringLiteral(pattern)} ESCAPE '\\'"

  /** Compile one Spark filter to remote SQL; `None` = not pushable and
    * Spark must re-evaluate it (reference `Unsupported`,
    * `transform.rs:53-77`). A compiled filter is *exact*: it is removed
    * from Spark's post-scan filters. */
  def compileFilter(f: Filter, rename: String => String = identity): Option[String] = {
    def col(n: String) = quote(rename(n))
    f match {
      case EqualTo(a, v) => literal(v).map(l => s"${col(a)} = $l")
      case EqualNullSafe(a, v) =>
        // null-safe equality must be TOTAL (TRUE or FALSE, never
        // UNKNOWN): the common `(c = l OR (c IS NULL AND l IS NULL))`
        // spelling yields UNKNOWN for a NULL column vs non-null
        // literal, which under Not(...) silently drops rows — pushed
        // filters are Exact, so Spark never re-checks. `UNKNOWN AND
        // FALSE = FALSE` makes this form total. (Found by
        // DialectFuzzSpec's three-valued-logic differential fuzzer.)
        if (v == null) Some(s"${col(a)} IS NULL")
        else literal(v).map(l =>
          s"(${col(a)} = $l AND ${col(a)} IS NOT NULL)")
      case GreaterThan(a, v) => literal(v).map(l => s"${col(a)} > $l")
      case GreaterThanOrEqual(a, v) => literal(v).map(l => s"${col(a)} >= $l")
      case LessThan(a, v) => literal(v).map(l => s"${col(a)} < $l")
      case LessThanOrEqual(a, v) => literal(v).map(l => s"${col(a)} <= $l")
      case In(a, vs) =>
        if (vs.isEmpty) Some("1 = 0")
        else {
          val ls = vs.toSeq.map(literal)
          if (ls.forall(_.isDefined)) Some(s"${col(a)} IN (${ls.flatten.mkString(", ")})")
          else None
        }
      case IsNull(a) => Some(s"${col(a)} IS NULL")
      case IsNotNull(a) => Some(s"${col(a)} IS NOT NULL")
      case And(l, r) =>
        for (cl <- compileFilter(l, rename); cr <- compileFilter(r, rename))
          yield s"($cl) AND ($cr)"
      case Or(l, r) =>
        for (cl <- compileFilter(l, rename); cr <- compileFilter(r, rename))
          yield s"($cl) OR ($cr)"
      case Not(c) => compileFilter(c, rename).map(cc => s"NOT ($cc)")
      case StringStartsWith(a, v) => Some(likeClause(col(a), likeEscape(v) + "%"))
      case StringEndsWith(a, v) => Some(likeClause(col(a), "%" + likeEscape(v)))
      case StringContains(a, v) => Some(likeClause(col(a), "%" + likeEscape(v) + "%"))
      case AlwaysTrue() => Some("1 = 1")
      case AlwaysFalse() => Some("1 = 0")
      case _ => None
    }
  }

  // ---- scalar functions in pushed filters (v2 Predicate path) -------------

  /** Render a whitelisted deterministic scalar function for remote
    * evaluation, or `None` ⇒ the containing predicate stays Spark-side.
    *
    * The reference excludes ALL scalar functions from filter pushdown
    * (`transform.rs:53-77` maps them to `Unsupported`); this widens
    * that surface behind the same refuse-by-default posture: only
    * functions whose semantics are engine-identical for the types we
    * ship may appear — ASCII-safe case mapping, character-counting
    * length, ANSI COALESCE/ABS and integer-exact math. Fractional
    * float functions (SQRT/EXP/…) are deliberately absent: a pushed
    * filter is Exact (never re-checked by Spark), and a last-ulp
    * rounding difference between engines would silently change rows.
    * `fn` arrives as Spark's V2 function name (CHAR_LENGTH, UPPER, …);
    * `args` are already-rendered SQL fragments. */
  def scalarFn(fn: String, args: Seq[String]): Option[String] = fn match {
    case "UPPER" | "LOWER" | "ABS" | "COALESCE" | "FLOOR" | "CEIL" =>
      Some(s"$fn(${args.mkString(", ")})")
    case "CHAR_LENGTH" | "CHARACTER_LENGTH" =>
      Some(s"CHAR_LENGTH(${args.head})")
    case "SUBSTRING" => Some(s"SUBSTRING(${args.mkString(", ")})")
    case _ => None
  }
}

object Dialect {
  def forName(n: String): Dialect = n.toLowerCase match {
    case "derby" => DerbyDialect
    case "postgres" | "postgresql" => PostgresDialect
    case "mysql" => MySqlDialect
    case "sqlite" => SqliteDialect
    case "oracle" => OracleDialect
    case "dm" => DmDialect
    case "mdb" => MdbDialect
    case "gaussdb" | "opengauss" => GaussDbDialect
    case "duckdb" => DuckDbDialect
    case other => throw new IllegalArgumentException(s"unknown dialect: $other")
  }

  /** Guess from a JDBC url, mirroring the reference's per-scheme
    * connection options (`connection/options.rs`). */
  def forUrl(url: String): Dialect = {
    val u = url.toLowerCase
    if (u.startsWith("jdbc:derby")) DerbyDialect
    else if (u.startsWith("jdbc:postgresql")) PostgresDialect
    else if (u.startsWith("jdbc:mysql")) MySqlDialect
    else if (u.startsWith("jdbc:sqlite")) SqliteDialect
    else if (u.startsWith("jdbc:oracle")) OracleDialect
    else if (u.startsWith("jdbc:dm")) DmDialect
    else if (u.startsWith("jdbc:gaussdb") || u.startsWith("jdbc:opengauss"))
      GaussDbDialect
    else if (u.startsWith("jdbc:duckdb")) DuckDbDialect
    else DerbyDialect
  }
}

/** Apache Derby (the JDBC backend shipped with this image). ANSI
  * quoting; limit via FETCH FIRST; no LIKE ESCAPE backslash quirks. */
object DerbyDialect extends Dialect {
  val name = "derby"
  override def subqueryAlias: String = "GRAFT_SUBQUERY"
  /** Derby has no ALTER TABLE .. RENAME TO; its statement is `RENAME
    * TABLE old TO new` (new name unqualified). */
  override def renameTableSql(oldParts: Seq[String], newName: String): String =
    s"RENAME TABLE ${tableName(oldParts)} TO ${quote(newName)}"
  /** Derby rejects SQL-standard `DATE '...'` literals; it wants the
    * function form `DATE('...')` (same for TIMESTAMP). */
  override def dateLiteral(d: LocalDate): String = s"DATE('$d')"
  override def timestampLiteral(t: LocalDateTime): String =
    s"TIMESTAMP('${java.sql.Timestamp.valueOf(t)}')"
  /** A bare `X'..'` literal is CHAR FOR BIT DATA, which Derby refuses
    * to store into BLOB columns without an explicit cast. */
  override def binaryLiteral(b: Array[Byte]): String =
    "CAST(X'" + b.map("%02x".format(_)).mkString + "' AS BLOB)"
  /** Derby keeps bit strings (`CHAR/VARCHAR .. FOR BIT DATA`) and
    * BLOBs apart: neither may be assigned to the other (SQLSTATE
    * 42821). So a bit-string column takes the bare literal, and a
    * staging column keeps its target's bit-string type. */
  override def binaryLiteral(b: Array[Byte], t: RemoteType): String = t match {
    case RemoteType.RFixedBinary(_) | RemoteType.RVarBinary(_) =>
      super.binaryLiteral(b)
    case _ => binaryLiteral(b)
  }
  override def columnDdlType(t: RemoteType): String = t match {
    case RemoteType.RFixedBinary(n) => s"CHAR($n) FOR BIT DATA"
    case RemoteType.RVarBinary(n) if n <= 32672 => s"VARCHAR($n) FOR BIT DATA"
    case RemoteType.RVarBinary(_) => "LONG VARCHAR FOR BIT DATA"
    case _ => super.columnDdlType(t)
  }
  /** Derby spells character length LENGTH and substring SUBSTR. */
  override def scalarFn(fn: String, args: Seq[String]): Option[String] =
    fn match {
      case "CHAR_LENGTH" | "CHARACTER_LENGTH" =>
        Some(s"LENGTH(${args.head})")
      case "SUBSTRING" => Some(s"SUBSTR(${args.mkString(", ")})")
      case _ => super.scalarFn(fn, args)
    }
  override protected def applyLimit(
      sql: String, limit: Option[Int], offset: Option[Int] = None): String = {
    val off = offset.fold("")(o => s" OFFSET $o ROWS")
    limit.fold(sql + off)(n => s"$sql$off FETCH NEXT $n ROWS ONLY")
  }
  // Derby has no boolean literals pre-10.7 in all contexts; TRUE/FALSE ok.

  /** Schema from SYS.SYSCOLUMNS — identity columns detected from
    * AUTOINCREMENTVALUE regardless of what the driver's
    * `isAutoIncrement` reports (the catalog is the source of truth,
    * like the reference's information_schema path for Postgres). */
  override def catalogInference(conn: java.sql.Connection,
      parts: Seq[String]): Option[RemoteSchema] = {
    // unquoted identifiers resolve upper-case in Derby
    val (schemaPred, table) = parts.map(_.toUpperCase) match {
      case Seq(t) => ("s.SCHEMANAME = CURRENT SCHEMA", t)
      case Seq(sc, t) => (s"s.SCHEMANAME = ${stringLiteral(sc)}", t)
      case _ => return None
    }
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        s"""SELECT c.COLUMNNAME, CAST(c.COLUMNDATATYPE AS VARCHAR(256)),
           |  c.AUTOINCREMENTVALUE
           |FROM SYS.SYSCOLUMNS c
           |JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID
           |JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID
           |WHERE t.TABLENAME = ${stringLiteral(table)} AND $schemaPred
           |ORDER BY c.COLUMNNUMBER""".stripMargin)
      val fields = Iterator.continually(rs)
        .takeWhile(_.next())
        .map { r =>
          val (tpe, nullable) = parseTypeDescriptor(r.getString(2))
          RemoteField(r.getString(1), tpe, nullable,
            autoIncrement = r.getObject(3) != null)
        }.toList
      if (fields.isEmpty) None else Some(RemoteSchema(fields))
    } finally st.close()
  }

  /** Derby TypeDescriptor strings: `VARCHAR(64) NOT NULL`,
    * `DECIMAL(10,2)`, `CHAR (8) FOR BIT DATA`, `TIMESTAMP`, ... —
    * mapped to the SAME RemoteTypes the probe path produces. */
  private[sources] def parseTypeDescriptor(desc: String): (RemoteType, Boolean) = {
    import RemoteType._
    val d = desc.trim
    val nullable = !d.endsWith("NOT NULL")
    val base = d.stripSuffix("NOT NULL").trim
    val Pat = "([A-Z ]+?)\\s*(?:\\((\\d+)(?:,(\\d+))?\\))?\\s*(FOR BIT DATA)?".r
    base match {
      case Pat(name, p, s, bit) =>
        val prec = Option(p).map(_.toInt).getOrElse(0)
        val scale = Option(s).map(_.toInt).getOrElse(0)
        val t = (name.trim, Option(bit).isDefined) match {
          case ("CHAR", true) => RFixedBinary(math.max(prec, 1))
          case ("VARCHAR", true) => RVarBinary(math.max(prec, 1))
          case ("LONG VARCHAR", true) => RVarBinary(32700)
          case ("BOOLEAN", _) => RBool
          case ("SMALLINT", _) => RInt2
          case ("INTEGER", _) | ("INT", _) => RInt4
          case ("BIGINT", _) => RInt8
          case ("REAL", _) => RFloat4
          case ("DOUBLE", _) | ("DOUBLE PRECISION", _) | ("FLOAT", _) => RFloat8
          case ("DECIMAL", _) | ("NUMERIC", _) =>
            if (prec <= 0) RDecimal(38, math.max(scale, 6)) else RDecimal(prec, scale)
          case ("CHAR", _) => RChar(math.max(prec, 1))
          case ("VARCHAR", _) => RVarchar(math.max(prec, 1))
          case ("LONG VARCHAR", _) | ("CLOB", _) | ("XML", _) => RText
          case ("BLOB", _) => RBinary
          case ("DATE", _) => RDate
          case ("TIME", _) => RTime
          case ("TIMESTAMP", _) => RTimestampNtz
          case _ => RText
        }
        (t, nullable)
      case _ => (RText, nullable)
    }
  }
}

/** Postgres-family rendering (reference `connection/postgres.rs`). */
object PostgresDialect extends Dialect {
  val name = "postgres"
  override def stringDdlType: String = "TEXT"
  override def binaryLiteral(b: Array[Byte]): String =
    "E'\\\\x" + b.map("%02x".format(_)).mkString + "'"

  /** The reference's information_schema inference statement
    * (`connection/postgres.rs:107-157`): types with precision/scale,
    * nullability, and identity detection that treats BOTH declared
    * identity columns and `nextval(...)` serial defaults as
    * auto-increment (`postgres.rs:383-398`). Execution needs the pg
    * driver (absent in this image); the statement itself is spec-locked
    * so the capability survives. */
  def catalogInferenceSql(schema: String, table: String): String =
    s"""SELECT column_name, data_type, character_maximum_length,
       | numeric_precision, numeric_scale, is_nullable,
       | (is_identity = 'YES' OR column_default LIKE 'nextval(%') AS is_autoinc
       |FROM information_schema.columns
       |WHERE table_schema = ${stringLiteral(schema)}
       | AND table_name = ${stringLiteral(table)}
       |ORDER BY ordinal_position""".stripMargin
}

/** MySQL rendering (reference `connection/mysql.rs`): backtick idents. */
object MySqlDialect extends Dialect {
  val name = "mysql"
  override def stringDdlType: String = "TEXT"
  override def quote(ident: String): String =
    "`" + ident.replace("`", "``") + "`"

  /** MySQL has no ANSI MERGE: the keyed upsert renders as
    * `INSERT .. SELECT .. ON DUPLICATE KEY UPDATE`, which matches on
    * the target's UNIQUE indexes — the merge keys must therefore be
    * backed by a unique index on the target (MySQL's own upsert
    * contract). All-keys batches degrade to `INSERT IGNORE`
    * (insert-if-absent, matching the ANSI form's no-update branch). */
  override def mergeSql(target: Seq[String], staging: Seq[String],
      keys: Seq[String], updateCols: Seq[String],
      insertCols: Seq[String]): String = {
    val ins = insertCols.map(quote).mkString(", ")
    val sel = insertCols.map(c => s"S.${quote(c)}").mkString(", ")
    val ignore = if (updateCols.isEmpty) " IGNORE" else ""
    val base = s"INSERT$ignore INTO ${tableName(target)} ($ins) " +
      s"SELECT $sel FROM ${tableName(staging)} S"
    if (updateCols.isEmpty) base
    else base + " ON DUPLICATE KEY UPDATE " +
      updateCols.map(c => s"${quote(c)} = S.${quote(c)}").mkString(", ")
  }
}

/** SQLite rendering (reference `connection/sqlite.rs`). */
object SqliteDialect extends Dialect {
  val name = "sqlite"
  override def stringDdlType: String = "TEXT"

  /** SQLite: LENGTH/SUBSTR spellings; FLOOR/CEIL live in the optional
    * math extension (compile-time flag) — decline rather than gamble
    * on the build the user's libsqlite was compiled with. */
  override def scalarFn(fn: String, args: Seq[String]): Option[String] =
    fn match {
      case "CHAR_LENGTH" | "CHARACTER_LENGTH" =>
        Some(s"LENGTH(${args.head})")
      case "SUBSTRING" => Some(s"SUBSTR(${args.mkString(", ")})")
      case "FLOOR" | "CEIL" => None
      case _ => super.scalarFn(fn, args)
    }

  /** SQLite ships no MOD() function (math functions are a compile-time
    * option); its `%` operator is always present and matches MOD for
    * the non-negative operands the bucket arithmetic produces. */
  override def sampleFilterSql(
      column: String, lo: Long, hi: Long, salt: Long): Option[String] = {
    val p = graft.operators.SampleOps.P
    val a = graft.operators.SampleOps.AmodP
    val bucket = s"(((CAST($column AS BIGINT) % $p) + $salt) * $a) % $p"
    Some(if (lo > 0L) s"($bucket >= $lo AND $bucket < $hi)"
    else s"$bucket < $hi")
  }

  /** SQLite has no ANSI MERGE: the keyed upsert renders as the
    * `ON CONFLICT(keys) DO UPDATE` form (3.24+), whose conflict target
    * needs a unique index on the merge keys. `WHERE true` after the
    * SELECT is SQLite's required disambiguation between a join and the
    * upsert clause. All-keys batches render `DO NOTHING`. */
  override def mergeSql(target: Seq[String], staging: Seq[String],
      keys: Seq[String], updateCols: Seq[String],
      insertCols: Seq[String]): String = {
    val ins = insertCols.map(quote).mkString(", ")
    val sel = insertCols.map(c => s"S.${quote(c)}").mkString(", ")
    val conflict = keys.map(quote).mkString(", ")
    val action =
      if (updateCols.isEmpty) "DO NOTHING"
      else "DO UPDATE SET " + updateCols
        .map(c => s"${quote(c)} = excluded.${quote(c)}").mkString(", ")
    s"INSERT INTO ${tableName(target)} ($ins) " +
      s"SELECT $sel FROM ${tableName(staging)} S WHERE true " +
      s"ON CONFLICT($conflict) $action"
  }
}

/** DuckDB rendering — the second EMBEDDED backend this image can run
  * end-to-end (file-based like the reference's SQLite suite,
  * `integration-tests/tests/sqlite.rs:48-289`; sqlite-jdbc itself is
  * not in the offline cache). Postgres-flavored ANSI SQL: double-quote
  * idents, LIMIT/OFFSET, TEXT. */
object DuckDbDialect extends Dialect {
  val name = "duckdb"
  override def stringDdlType: String = "TEXT"

  /** Verified: DuckDB converts double→decimal through the shortest
    * decimal rendering with half-away-from-zero ties (2.5→3, −2.5→−3,
    * 1.0000005 at scale 6 → 1.000001) — exactly Spark's
    * `BigDecimal.valueOf` + HALF_UP path (DuckDbSourceSpec pins the
    * tie values end-to-end). */
  override def castDoubleToDecimalMatchesSpark: Boolean = true

  /** DuckDB rejects X'..' binary literals; its blob literal is an
    * escaped-hex string cast to BLOB. */
  override def binaryLiteral(b: Array[Byte]): String =
    "'" + b.map("\\x%02X".format(_)).mkString + "'::BLOB"

  /** DuckDB's JDBC driver returns `isSigned = false` for EVERY column
    * (unimplemented); its unsigned types are distinguishable by NAME
    * (UTINYINT/USMALLINT/UINTEGER/UBIGINT), so signedness comes from
    * the name — otherwise every INT would widen per the §1.3 unsigned
    * rule and round-trip as the wrong Spark type. */
  override def signedHint(typeName: String, driverSigned: Boolean): Boolean =
    !Set("UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
      .contains(typeName.toUpperCase)

  /** LENGTH counts characters in DuckDB (CHAR_LENGTH does not exist);
    * the rest of the whitelist matches ANSI spellings. */
  override def scalarFn(fn: String, args: Seq[String]): Option[String] =
    fn match {
      case "CHAR_LENGTH" | "CHARACTER_LENGTH" =>
        Some(s"LENGTH(${args.head})")
      case _ => super.scalarFn(fn, args)
    }

  /** DuckDB has no ANSI MERGE (1.x): keyed upsert renders as Postgres-
    * style `INSERT .. SELECT .. ON CONFLICT(keys) DO UPDATE`, whose
    * conflict target requires a PRIMARY KEY/UNIQUE constraint on the
    * merge keys (DuckDB's own upsert contract). All-keys batches render
    * `DO NOTHING` (insert-if-absent, the ANSI form's no-update branch). */
  override def mergeSql(target: Seq[String], staging: Seq[String],
      keys: Seq[String], updateCols: Seq[String],
      insertCols: Seq[String]): String = {
    val ins = insertCols.map(quote).mkString(", ")
    val sel = insertCols.map(c => s"S.${quote(c)}").mkString(", ")
    val conflict = keys.map(quote).mkString(", ")
    val action =
      if (updateCols.isEmpty) "DO NOTHING"
      else "DO UPDATE SET " + updateCols
        .map(c => s"${quote(c)} = excluded.${quote(c)}").mkString(", ")
    s"INSERT INTO ${tableName(target)} ($ins) " +
      s"SELECT $sel FROM ${tableName(staging)} S " +
      s"ON CONFLICT($conflict) $action"
  }
}

/** Oracle rendering: no LIMIT — wrap with ROWNUM like the reference
  * (`connection/mod.rs:321-334,362-379`). */
object OracleDialect extends Dialect {
  val name = "oracle"
  override def stringDdlType: String = "CLOB"
  override def supportsOffset: Boolean = false
  override protected def applyLimit(
      sql: String, limit: Option[Int], offset: Option[Int] = None): String =
    limit.fold(sql)(n => s"SELECT * FROM ($sql) WHERE ROWNUM <= $n")
  override def timestampLiteral(t: LocalDateTime): String =
    s"TO_TIMESTAMP('${java.sql.Timestamp.valueOf(t)}', 'YYYY-MM-DD HH24:MI:SS.FF')"
  /** Oracle: LENGTH/SUBSTR spellings (SQL Language Reference). */
  override def scalarFn(fn: String, args: Seq[String]): Option[String] =
    fn match {
      case "CHAR_LENGTH" | "CHARACTER_LENGTH" =>
        Some(s"LENGTH(${args.head})")
      case "SUBSTRING" => Some(s"SUBSTR(${args.mkString(", ")})")
      case _ => super.scalarFn(fn, args)
    }
}

/** DM (Dameng) rendering — no JDBC driver ships in this image, but the
  * dialect string rules stay alive exactly as the reference defines
  * them (`connection/mod.rs`): ANSI double-quote identifiers
  * (`sql_identifier`, mod.rs:390-395), `HEXTORAW('..')` binary
  * literals like Oracle (`sql_binary_literal`, mod.rs:426-428), and
  * plain `LIMIT n` rewrites (`rewrite_query`, mod.rs:277-296). */
object DmDialect extends Dialect {
  val name = "dm"
  override def stringDdlType: String = "CLOB"
  override def binaryLiteral(b: Array[Byte]): String =
    "HEXTORAW('" + b.map("%02x".format(_)).mkString + "')"
  /** DM is Oracle-compatible: LENGTH/SUBSTR spellings. */
  override def scalarFn(fn: String, args: Seq[String]): Option[String] =
    fn match {
      case "CHAR_LENGTH" | "CHARACTER_LENGTH" =>
        Some(s"LENGTH(${args.head})")
      case "SUBSTRING" => Some(s"SUBSTR(${args.mkString(", ")})")
      case _ => super.scalarFn(fn, args)
    }
}

/** GaussDB rendering — Postgres-family per the reference
  * (`create_unparser`, mod.rs:251-253; `sql_binary_literal`,
  * mod.rs:420-422): same quoting, `E'\\x..'` binary literals,
  * `LIMIT n`. */
object GaussDbDialect extends Dialect {
  val name = "gaussdb"
  override def stringDdlType: String = "TEXT"
  override def binaryLiteral(b: Array[Byte]): String =
    "E'\\\\x" + b.map("%02x".format(_)).mkString + "'"
}

/** MDB rendering — the reference's most constrained backend
  * (`connection/mod.rs`):
  *   - `[ident]` bracket quoting (`sql_identifier`, mod.rs:399-401);
  *   - query sources are NEVER rewritable — only table scans take
  *     pushed filters/limits (`support_rewrite_with_filters_limit`,
  *     mod.rs:239-247);
  *   - its SQL parser rejects parenthesized WHERE predicates, so each
  *     compiled filter has outer paren characters stripped and no new
  *     ones added (`rewrite_query` MDB arm, mod.rs:296-309);
  *   - no COUNT(1) statistics query (`try_count1_query`, mod.rs:458). */
object MdbDialect extends Dialect {
  val name = "mdb"
  override def stringDdlType: String = "LONGTEXT"
  override def quote(ident: String): String =
    "[" + ident.replace("]", "]]") + "]"

  /** Access SQL has neither MOD() nor `%` (its MOD is a VBA operator
    * with engine-specific integer coercion) — decline, sample runs
    * Spark-side. */
  override def sampleFilterSql(
      column: String, lo: Long, hi: Long, salt: Long): Option[String] = None

  /** Access function spellings are VBA (UCase/LCase/Len), with
    * engine-specific NULL propagation, and its parser rejects the
    * parentheses a function call needs in WHERE anyway — no scalar
    * function ever pushes to MDB. */
  override def scalarFn(fn: String, args: Seq[String]): Option[String] = None

  /** Access SQL has no MERGE/upsert statement at all — fail the keyed
    * upsert loudly instead of emitting SQL the backend cannot parse. */
  override def mergeSql(target: Seq[String], staging: Seq[String],
      keys: Seq[String], updateCols: Seq[String],
      insertCols: Seq[String]): String =
    throw new UnsupportedOperationException(
      "mdb (Access) SQL has no MERGE/upsert statement — mergekeys is " +
        "not supported on this dialect")
  override def isRewritable(source: RemoteSource): Boolean = source match {
    case _: RemoteSource.TableRef => true
    case _ => false
  }
  override def supportsCountStatistics: Boolean = false

  /** Strip one FULLY-ENCLOSING paren pair at a time. The reference trims
    * raw paren chars from both ends (`trim_matches`, mod.rs:303), which
    * corrupts `a IN (1, 2)` or `(a = 1) OR (b = 2)` into unbalanced SQL
    * — we deviate to balanced-pair stripping: same effect on the simple
    * predicates MDB accepts, never syntactically invalid. */
  private def stripOuterParens(f: String): String = {
    val t = f.trim
    if (t.length >= 2 && t.head == '(' && t.last == ')') {
      // outer pair must MATCH: depth may not reach 0 before the end
      var depth = 0
      var enclosing = true
      var i = 0
      while (i < t.length - 1 && enclosing) {
        if (t(i) == '(') depth += 1
        else if (t(i) == ')') { depth -= 1; if (depth == 0) enclosing = false }
        i += 1
      }
      if (enclosing) stripOuterParens(t.substring(1, t.length - 1)) else t
    } else t
  }

  /** MDB's SQL parser rejects parenthesized WHERE predicates, and
    * `whereClause` joins pushed filters with bare AND — so a filter
    * whose rendering NEEDS parens (Or, In-lists, Not(...)) cannot be
    * pushed without either invalid SQL or an AND/OR precedence change.
    * Decline those (`None` ⇒ Spark re-evaluates them post-scan); And
    * joins paren-free sides with bare AND, which is safe because any
    * OR-containing side is itself declined (OR only renders
    * parenthesized). EqualNullSafe pushes: its 3VL-total rendering is
    * a pure AND conjunction. */
  override def compileFilter(
      f: Filter, rename: String => String = identity): Option[String] = f match {
    case And(l, r) =>
      for (cl <- compileFilter(l, rename); cr <- compileFilter(r, rename))
        yield s"$cl AND $cr"
    case _ =>
      super.compileFilter(f, rename).map(stripOuterParens).filterNot(_.contains("("))
  }

  // MDB's SQL parser rejects parenthesized WHERE predicates: filters
  // arriving here are already paren-free (see compileFilter), join
  // with bare AND; stripOuterParens kept as a final guard.
  override protected def whereClause(filters: Seq[String]): String =
    if (filters.isEmpty) ""
    else filters.map(stripOuterParens).mkString(" WHERE ", " AND ", "")

  // IN-list runtime filters need parens MDB rejects.
  override def supportsRuntimeFilters: Boolean = false
}
