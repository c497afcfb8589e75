package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform => PartitionTransform}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 entry point, registered as `graft-remote` — the Spark-native
  * port of the reference's `RemoteTable: TableProvider`
  * (`table.rs:112-308`). Usage:
  *
  * {{{
  * spark.read.format("graft-remote")
  *   .option("url", "jdbc:derby:/tmp/db;create=true")
  *   .option("dbtable", "APP.NATION")      // or .option("query", "SELECT ...")
  *   .load()
  * }}}
  */
class RemoteTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-remote"
  override def supportsExternalMetadata(): Boolean = true

  /** The remote schema [[inferSchema]] probed, with the options it was
    * probed for. Spark makes a provider per load and calls `getTable`
    * on it right after `inferSchema`, with the same options; the table
    * takes this schema instead of probing the remote a second time. */
  private var inferred: Option[(java.util.Map[String, String], RemoteSchema)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = RemoteOptions(options.asCaseSensitiveMap())
    opts.command match {
      case Some("list_tables") => RemoteTableImpl.listTablesSchema
      case Some("pool_state") => RemoteTableImpl.poolStateSchema
      case Some(other) => throw new IllegalArgumentException(
        s"unknown command '$other' (supported: list_tables, pool_state)")
      case None =>
        val remote = Jdbc.inferSchema(opts)
        inferred = Some((options.asCaseSensitiveMap(), remote))
        opts.transform.transformSchema(remote.toSpark,
          TransformContext(opts.dialect.name, remote.toSpark, remote))
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[PartitionTransform],
      properties: java.util.Map[String, String]): Table = {
    val known = inferred.collect { case (p, r) if p == properties => r }
    inferred = None
    new RemoteTableImpl(RemoteOptions(properties), Option(schema), known)
  }
}

object RemoteTableImpl {
  /** Fixed schema of the `list_tables` metadata command (reference
    * `ListMdbTables`, `connection/mdb/mod.rs:34-47`). */
  val listTablesSchema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("table_type", StringType, nullable = false)))

  /** Schema of the `pool_state` command — the reference's `PoolState`
    * introspection (`connection/mod.rs:56-60`) as a queryable one-row
    * table: live physical connections and how many sit idle in THIS
    * JVM's pool for the given (url, credentials). */
  val poolStateSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("connections", IntegerType, nullable = false),
    StructField("idle_connections", IntegerType, nullable = false)))
}

/** The table: schema inference happens once, driver-side, at
  * construction — matching the reference's remote round-trip inside
  * `RemoteTable::try_new` (`table.rs:237-274`). */
class RemoteTableImpl(val opts: RemoteOptions, userSchema: Option[StructType],
    knownRemoteSchema: Option[RemoteSchema] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  val isCommand: Boolean = opts.command.isDefined

  /** Remote (source-native) schema of the raw scan. `knownRemoteSchema`
    * skips the probe when the caller already derived it: the provider's
    * `inferSchema` probed it for the same load, or join pushdown
    * composed it from the two sides' inferred schemas. */
  lazy val remoteSchema: RemoteSchema = knownRemoteSchema.getOrElse {
    opts.command match {
      case Some("pool_state") =>
        RemoteSchema(Seq(
          RemoteField("url", RemoteType.RVarchar(512), nullable = false),
          RemoteField("connections", RemoteType.RInt4, nullable = false),
          RemoteField("idle_connections", RemoteType.RInt4, nullable = false)))
      case Some(_) =>
        RemoteSchema(Seq(
          RemoteField("table_name", RemoteType.RVarchar(256), nullable = false),
          RemoteField("table_type", RemoteType.RVarchar(64), nullable = false)))
      case None => Jdbc.inferSchema(opts)
    }
  }

  /** Context handed to the user Transform (reference `transform.rs:17-21`:
    * db_type + table_schema + remote_schema). */
  lazy val transformContext: TransformContext =
    TransformContext(opts.dialect.name, remoteSchema.toSpark, remoteSchema)

  /** Spark schema after the user Transform (reference
    * `transformed_table_schema`, `transform.rs:169-192`). */
  lazy val transformedSchema: StructType = userSchema.filter(_.nonEmpty)
    .getOrElse(opts.transform.transformSchema(remoteSchema.toSpark,
      transformContext))

  override def name(): String = opts.source match {
    case RemoteSource.TableRef(p) => p.mkString(".")
    case RemoteSource.Query(_) => "graft_remote_query"
  }
  override def schema(): StructType = transformedSchema
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      // writes may omit auto-increment columns (the writer maps by name
      // and strips all-NULL identity columns like reference insert.rs:157-205)
      TableCapability.ACCEPT_ANY_SCHEMA)
    // incremental micro-batch reads over a monotonic column
    if (opts.streamingColumn.isDefined)
      caps.add(TableCapability.MICRO_BATCH_READ)
    // opt-in truncate-and-append overwrite; default stays the
    // reference's append-only reject (table.rs:434-441)
    if (opts.allowOverwrite)
      caps.add(TableCapability.TRUNCATE)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RemoteScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new RemoteWriteBuilder(opts,
      if (opts.evolveSchema) evolveForWrite(info.schema()) else remoteSchema,
      info.schema())

  /** `evolveschema=true` (r20): write-batch columns absent remotely are
    * added with `ALTER TABLE ADD COLUMN` (nullable — existing rows
    * read NULL), then the remote schema is re-inferred so subsequent
    * type mapping comes from the REMOTE's declared types, not a local
    * guess. The daily-ingest shape: a producer adds a field and the
    * sink follows, instead of the whole pipeline failing on the name
    * mismatch. Table sources only — a query source has nothing to
    * ALTER. Single-statement DDL per column; Derby/ANSI auto-commit
    * DDL means a later write failure cannot roll the ADDs back, which
    * is safe: a nullable added column is purely additive. */
  private def evolveForWrite(writeSchema: StructType): RemoteSchema = {
    val missing = writeSchema.fields.filterNot(f =>
      remoteSchema.fields.exists(_.name.equalsIgnoreCase(f.name)))
    if (missing.isEmpty) return remoteSchema
    val parts = opts.source match {
      case RemoteSource.TableRef(p) => p
      case RemoteSource.Query(_) => throw new UnsupportedOperationException(
        "evolveschema needs a table source (cannot ALTER a query)")
    }
    require(!isCommand, "evolveschema does not apply to commands")
    require(opts.transformClass.isEmpty,
      "evolveschema composes ambiguously with transformclass (which " +
        "columns are the transform's vs the table's?) — drop one")
    GraftConnections.withConnection(opts) { conn =>
      val st = conn.createStatement()
      try missing.foreach { f =>
        st.executeUpdate(
          s"ALTER TABLE ${opts.dialect.tableName(parts)} ADD COLUMN " +
            s"${opts.dialect.quote(f.name)} ${opts.dialect.ddlType(f.dataType)}")
      } finally st.close()
    }
    Jdbc.inferSchema(opts)
  }

  // ---- DELETE FROM (SupportsDeleteV2) ------------------------------------
  // `DELETE FROM t WHERE ...` ships as ONE remote DELETE statement with
  // the compiled predicate — the row-removal analogue of filter
  // pushdown (no rows cross the wire; at federation scale a GDPR-style
  // purge touches the remote only). Opt-in via allowdelete=true; the
  // default keeps the reference's append-only posture (table.rs:434-441).
  // AlwaysTrue predicates (Spark's unconditional-DELETE / truncate
  // encoding) drop out of the WHERE rather than being rendered: not
  // every dialect accepts a bare boolean literal in WHERE.

  private def compiledDelete(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Seq[String]] =
    try Some(predicates.toSeq
      .filterNot(_.name == "ALWAYS_TRUE")
      .map(p => new V2PredicateSQL(opts.dialect).build(p)))
    catch { case scala.util.control.NonFatal(_) => None }

  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    opts.source.isInstanceOf[RemoteSource.TableRef] &&
      !isCommand && opts.transformClass.isEmpty &&
      compiledDelete(predicates).isDefined

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    if (!opts.allowDelete) throw new UnsupportedOperationException(
      "graft-remote rejects DELETE by default (the reference treats " +
        "remote tables as append-only); set allowdelete=true " +
        "(table option or spark.sql.catalog.<name>.allowdelete) to " +
        "enable remote DELETE ... WHERE pushdown")
    val parts = opts.source match {
      case RemoteSource.TableRef(p) => p
      case RemoteSource.Query(_) => throw new UnsupportedOperationException(
        "cannot DELETE from a query source")
    }
    val where = compiledDelete(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot compile DELETE predicates ${predicates.mkString(", ")} " +
          "to remote SQL"))
    val sql = s"DELETE FROM ${opts.dialect.tableName(parts)}" +
      (if (where.isEmpty) "" else where.mkString(" WHERE (", ") AND (", ")"))
    val conn = GraftConnections.open(opts)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    } finally GraftConnections.close(conn)
  }
}

/** Pushdown negotiation — the port of `supports_filters_pushdown` +
  * `scan()` (`table.rs:333-415`):
  *   - filters compile to dialect SQL, Exact semantics (compiled ⇒ not
  *     re-evaluated by Spark);
  *   - filters on transformed columns are renamed back through
  *     [[Transform.filterRename]] (reference `transform.rs:26-33`);
  *   - limit pushdown (reference `scan.rs:154-177`);
  *   - column pruning rewrites the remote SELECT list (strictly better
  *     than the reference's decode-side pruning, SURVEY §2.1 O2);
  *   - COUNT(*)/MIN/MAX/SUM/AVG/COUNT(col) complete aggregate pushdown,
  *     with or without GROUP BY columns — the idiomatic Spark form of
  *     the reference's COUNT-statistics folding (SURVEY §2.1 O5),
  *     extended so a federated `GROUP BY` ships only group rows.
  */
class RemoteScanBuilder(private var table: RemoteTableImpl)
  extends ScanBuilder
  with SupportsPushDownV2Filters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates
  with SupportsPushDownJoin
  with SupportsPushDownTableSample {

  // defs, not vals: join pushdown swaps `table` for a joined-query table
  private def opts = table.opts
  private def dialect = opts.dialect
  private def rewritable = !table.isCommand && dialect.isRewritable(opts.source)
  private def hasTransform = opts.transformClass.isDefined

  private var pushedSql: Seq[String] = Nil
  private var pushedPreds: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty
  private var required: StructType = table.transformedSchema
  private var limit: Option[Int] = None
  private var sortSql: Seq[String] = Nil
  private var offset: Option[Int] = None
  private var agg: Option[PushedAgg] = None

  /** transformed name -> raw source column (identity without transform). */
  private def renameForPushdown(name: String): Option[String] = {
    val mapped =
      if (hasTransform)
        opts.transform.filterRename(name, table.transformContext)
      else Some(name)
    // only push filters on columns that exist remotely
    mapped.filter(m => table.remoteSchema.fields.exists(_.name.equalsIgnoreCase(m)))
  }

  /** v2 filter pushdown, two-tier (r19):
    *   1. every v1-expressible predicate converts back to a
    *      `sources.Filter` and the established `Dialect.compileFilter`
    *      path decides — byte-identical SQL and identical declines to
    *      the previous v1 `SupportsPushDownFilters` implementation;
    *   2. only trees the v1 algebra CANNOT express (scalar function
    *      calls — `CHAR_LENGTH(c) > 10`, `LOWER(c) = '…'`) go to
    *      [[ScalarPredicateSQL]], whose per-dialect whitelist refuses
    *      anything not verified engine-identical.
    * A v1-expressible predicate the dialect declined is NOT retried on
    * tier 2: dialect exclusion rules are final. */
  override def pushPredicates(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    if (!rewritable) { pushedPreds = Array.empty; return predicates }
    val compiled = predicates.toSeq.map { p =>
      val sql = org.apache.spark.sql.graftbridge.Bridge.predicateToV1(p) match {
        case Some(f) =>
          // every referenced column must survive the rename
          if (f.references.forall(c => renameForPushdown(c).isDefined))
            dialect.compileFilter(f, c => renameForPushdown(c).get)
          else None
        case None =>
          try Some(new ScalarPredicateSQL(dialect, renameForPushdown).build(p))
          catch { case scala.util.control.NonFatal(_) => None }
      }
      (p, sql)
    }
    pushedPreds = compiled.collect { case (p, Some(_)) => p }.toArray
    pushedSql = compiled.collect { case (_, Some(s)) => s }
    compiled.collect { case (p, None) => p }.toArray
  }
  override def pushedPredicates(): Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate] = pushedPreds

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = {
    // never on top of a pushed aggregate: the agg reader renders its own
    // SQL and a silently-ignored "pushed" limit/sort would be a lie to
    // Catalyst (harmless for 1-row global aggs, wrong for GROUP BY rows)
    if (rewritable && agg.isEmpty) { limit = Some(n); true } else false
  }

  /** ORDER BY + LIMIT pushdown (top-k): complete on single-partition
    * scans; with range partitions each partition pushes its own top-k
    * and Spark re-sorts (isPartiallyPushed). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (!rewritable || agg.isDefined) return false
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val compiled = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          renameForPushdown(nr.fieldNames.head).map(c => dialect.sortClause(c,
            so.direction() == SortDirection.DESCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (compiled.exists(_.isEmpty)) false
    else { sortSql = compiled.flatten; limit = Some(n); true }
  }

  override def isPartiallyPushed(): Boolean = opts.numPartitions > 1

  /** TABLESAMPLE pushdown: `df.sample(f, seed)` / `TABLESAMPLE (f
    * PERCENT)` over a remote table ships as a deterministic
    * hash-threshold WHERE predicate on `samplecolumn` (a stable
    * numeric key the USER names — sampling must be a pure function of
    * a row's identity, not of its physical position, or retries and
    * re-runs draw different rows). Only ~f of the table crosses the
    * wire — the federation win for "profile 1% of a remote table" —
    * and the predicate composes with every other pushdown (filters
    * fold beside it, aggregates run remotely over the sampled rows,
    * range partitions AND it into their slices). Declines without a
    * samplecolumn, with replacement semantics, after a pushed
    * aggregate (sampling AGG OUTPUT must stay Spark-side), or when the
    * dialect has no integer modulo — Spark then samples locally,
    * which is correct, just not wire-proportional. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (!rewritable || agg.isDefined || withReplacement ||
      upperBound <= lowerBound) return false
    val p = graft.operators.SampleOps.P
    (for {
      c <- opts.sampleColumn
      renamed <- renameForPushdown(c)
      sql <- dialect.sampleFilterSql(dialect.quote(renamed),
        lo = (lowerBound * p).toLong, hi = (upperBound * p).toLong,
        salt = ((seed % p) + p) % p)
    } yield sql) match {
      case Some(sql) => pushedSql = pushedSql :+ sql; true
      case None => false
    }
  }

  /** OFFSET pushdown — single partition only (a per-partition offset
    * would drop the wrong rows) and only for dialects that render it. */
  override def pushOffset(n: Int): Boolean = {
    if (rewritable && agg.isEmpty && dialect.supportsOffset &&
        opts.numPartitions == 1) {
      offset = Some(n); true
    } else false
  }

  private def aggColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case fr: NamedReference if fr.fieldNames.length == 1 =>
      Some(fr.fieldNames.head).filter(n =>
        table.remoteSchema.fields.exists(_.name.equalsIgnoreCase(n)))
    case _ => None
  }

  /** A remote column whose values a pushed GROUP BY or MIN/MAX hands
    * back as one scalar result column: the shared admission rule of
    * [[compileGroupCol]] and [[compileAgg]]'s MIN/MAX. Arrays, binary,
    * instants and struct columns stay Spark-side. */
  private def scalarColumn(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[(String, RemoteField)] =
    aggColumn(e).map(n => (n, table.remoteSchema(n))).filter {
      case (_, f) => f.tpe.toSpark match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | StringType | DateType | TimestampNTZType |
             BooleanType | _: DecimalType => true
        case _ => false
      }
    }

  /** Render one aggregate to remote SQL + the remote type of its result
    * column, which the scan reader decodes like any scanned column. The
    * type's Spark form must equal Spark's own aggregate output type, so
    * SUM widens exactly the way Catalyst does. */
  private def compileAgg(fn: AggregateFunc): Option[(String, RemoteType)] = fn match {
    case _: CountStar => Some(("COUNT(1)", RemoteType.RInt8))
    case c: Count if !c.isDistinct =>
      aggColumn(c.column).map(n =>
        (s"COUNT(${dialect.quote(n)})", RemoteType.RInt8))
    case c: Count if c.isDistinct =>
      // exact remote COUNT(DISTINCT col): complete pushdown only, so the
      // remote engine's distinct set IS the final answer (a partial
      // distinct count cannot be merged)
      aggColumn(c.column).map(n =>
        (s"COUNT(DISTINCT ${dialect.quote(n)})", RemoteType.RInt8))
    // MIN/MAX return the source column's own values, so they decode by
    // its own remote type (a TIME column reads through getTime)
    case m: Min =>
      scalarColumn(m.column).map { case (n, f) =>
        (s"MIN(${dialect.quote(n)})", f.tpe)
      }
    case m: Max =>
      scalarColumn(m.column).map { case (n, f) =>
        (s"MAX(${dialect.quote(n)})", f.tpe)
      }
    case s: Sum if !s.isDistinct =>
      import RemoteType._
      s.column match {
        // SUM(CAST(col AS DECIMAL(p,s))) — the decimal-disciplined sum
        // every order-stable pipeline writes. Pushable when the remote
        // cast provably produces Spark's cast values: integral sources
        // need p−s digits of headroom (then the cast is lossless),
        // decimal sources must purely widen, and a DOUBLE source needs
        // the dialect-verified rounding match (Derby truncates — stays
        // Spark-side; DuckDB matches). Result rides back as Spark's own
        // sum-over-decimal widened type.
        case c: org.apache.spark.sql.connector.expressions.Cast =>
          c.dataType match {
            case dt: DecimalType
                if dt.precision + 10 <= DecimalType.MAX_PRECISION =>
              aggColumn(c.expression).flatMap { n =>
                val q = dialect.quote(n)
                val intDigits = dt.precision - dt.scale
                val sparkIdentical = table.remoteSchema(n).tpe match {
                  case RInt1 | RUInt1 => intDigits >= 3
                  case RInt2 | RUInt2 => intDigits >= 5
                  case RInt4 | RUInt4 => intDigits >= 10
                  case RInt8 => intDigits >= 19
                  case RDecimal(p0, s0) =>
                    s0 <= dt.scale && intDigits >= p0 - s0
                  case RFloat8 => dialect.castDoubleToDecimalMatchesSpark
                  // RFloat4 never: Spark widens float→double first and
                  // renders THAT (0.1f → 0.10000000149…), engines cast
                  // the REAL's own shortest form (0.1) — guaranteed ulp
                  // disagreement on non-dyadic values
                  case _ => false
                }
                if (!sparkIdentical) None
                else {
                  val rp = dt.precision + 10
                  Some((s"CAST(SUM(CAST($q AS " +
                    s"DECIMAL(${dt.precision},${dt.scale}))) AS " +
                    s"DECIMAL($rp,${dt.scale}))", RDecimal(rp, dt.scale)))
                }
              }
            case _ => None
          }
        case _ =>
          aggColumn(s.column).flatMap { n =>
            val q = dialect.quote(n)
            table.remoteSchema(n).tpe match {
              case RInt1 | RInt2 | RInt4 | RInt8 | RUInt1 | RUInt2 | RUInt4 =>
                Some((s"SUM(CAST($q AS BIGINT))", RInt8))
              case RFloat4 | RFloat8 =>
                Some((s"SUM(CAST($q AS DOUBLE))", RFloat8))
              case RDecimal(p, sc) if p + 10 <= DecimalType.MAX_PRECISION =>
                Some((s"CAST(SUM($q) AS DECIMAL(${p + 10},$sc))",
                  RDecimal(p + 10, sc)))
              case _ => None
            }
          }
      }
    case a: Avg if !a.isDistinct =>
      import RemoteType._
      aggColumn(a.column).flatMap { n =>
        val q = dialect.quote(n)
        table.remoteSchema(n).tpe match {
          // Integral only, and NOT the remote engine's own AVG — e.g.
          // Derby's AVG over an integral/decimal operand truncates the
          // quotient at the operand's scale, silently disagreeing with
          // Spark's double average. Instead: exact BIGINT sum, one cast
          // to DOUBLE, one IEEE division — bit-identical to Spark's
          // avg(integral) for totals within 2^53 (and a LOUD remote
          // overflow error beyond 2^63, never silent drift). Float and
          // decimal inputs are not pushed: their sum order could
          // legitimately differ in final ulps.
          case RInt1 | RInt2 | RInt4 | RInt8 | RUInt1 | RUInt2 | RUInt4 =>
            Some((s"CASE WHEN COUNT($q) = 0 THEN NULL ELSE " +
              s"CAST(CAST(SUM(CAST($q AS BIGINT)) AS DOUBLE) / COUNT($q) " +
              s"AS DOUBLE) END", RFloat8))
          case _ => None
        }
      }
    case _ => None
  }

  /** A GROUP BY column is pushable when it is a [[scalarColumn]]; its
    * result column is the source field under the name Spark asked for. */
  private def compileGroupCol(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[(String, RemoteField)] =
    scalarColumn(e).map { case (n, f) => (dialect.quote(n), f.copy(name = n)) }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    // single-partition scans only: complete pushdown means Spark takes
    // our rows as the final aggregate result (with GROUP BY, one remote
    // result row per group — the remote engine's grouping IS the final
    // grouping, which is exactly what a federated aggregate wants: only
    // group rows cross the wire, never input rows)
    rewritable && !hasTransform && opts.numPartitions == 1 &&
      aggregation.groupByExpressions.forall(compileGroupCol(_).isDefined) &&
      aggregation.aggregateExpressions.forall(compileAgg(_).isDefined)
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!supportCompletePushDown(aggregation)) return false
    val groups = aggregation.groupByExpressions.toSeq.map(compileGroupCol(_).get)
    val compiled = aggregation.aggregateExpressions.toSeq.map(compileAgg(_).get)
    // scan output = grouping columns then aggregates, positionally —
    // the DSv2 complete-pushdown contract
    val fields = groups.map(_._2) ++ compiled.zipWithIndex.map {
      case ((_, tpe), i) => RemoteField(s"agg_$i", tpe)
    }
    agg = Some(PushedAgg(groups.map(_._1) ++ compiled.map(_._1),
      groups.map(_._1), fields))
    true
  }

  // ---- join pushdown (SupportsPushDownJoin, Spark 4.1) ----------------
  // When both sides of a Spark join are graft-remote scans of the SAME
  // remote database, the whole join collapses into one remote SQL query:
  //   SELECT <cols> FROM (<left side>) L <JOIN TYPE> (<right side>) R ON <cond>
  // so join rows never cross the wire individually and the remote engine
  // uses its own indexes/join machinery. Each side folds its
  // already-pushed filters (V2ScanRelationPushDown pushes filters BEFORE
  // joins); limit/top-N/offset/aggregate pushdown then apply to the
  // joined query transparently, because the builder's source simply
  // becomes a rewritable Query. Enabled by Spark's
  // `spark.sql.optimizer.datasourceV2JoinPushdown` conf. This is
  // beyond-reference surface (the reference delegates join planning to
  // its host engine and never pushes joins remotely).

  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: RemoteScanBuilder =>
        rewritable && o.rewritable && !hasTransform && !o.hasTransform &&
          !table.isCommand && !o.table.isCommand &&
          // same database AND same identity/driver: the joined query runs
          // on THIS side's connection, which must be able to see both
          // tables with unchanged permissions
          opts.url == o.opts.url && opts.user == o.opts.user &&
          opts.password == o.opts.password &&
          opts.driverClass == o.opts.driverClass &&
          dialect.name == o.dialect.name &&
          opts.numPartitions == 1 && o.opts.numPartitions == 1
      case _ => false
    }

  override def pushDownJoin(
      other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftCols: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightCols: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Boolean = {
    import org.apache.spark.sql.connector.join.JoinType._
    if (!isOtherSideCompatibleForJoin(other)) return false
    val o = other.asInstanceOf[RemoteScanBuilder]
    // joins push before limit/top-N/offset/aggregates; anything else on
    // either builder means an ordering we did not design for — bail
    if (limit.isDefined || offset.isDefined || sortSql.nonEmpty || agg.isDefined ||
        o.limit.isDefined || o.offset.isDefined || o.sortSql.nonEmpty ||
        o.agg.isDefined) return false

    val joinTypeSql = joinType match {
      case INNER_JOIN => "INNER JOIN"
      case LEFT_OUTER_JOIN => "LEFT OUTER JOIN"
      case RIGHT_OUTER_JOIN => "RIGHT OUTER JOIN"
      case _ => return false
    }
    val condSql =
      try new V2PredicateSQL(dialect).build(condition)
      catch { case scala.util.control.NonFatal(_) => return false }

    // one side's pushed-down projection: fields renamed to their
    // collision-free aliases, nullability widened on the outer side
    def side(b: RemoteScanBuilder,
        cols: Array[SupportsPushDownJoin.ColumnWithAlias],
        forcedNullable: Boolean): Option[(String, Seq[RemoteField])] = {
      val fields = cols.toSeq.map { c =>
        b.table.remoteSchema.fields.find(_.name.equalsIgnoreCase(c.colName))
          .map(f => f.copy(name = Option(c.alias).getOrElse(c.colName),
            nullable = f.nullable || forcedNullable))
      }
      if (fields.contains(None)) None
      else {
        val sel = cols.toSeq.map(c => dialect.quote(c.colName) +
          Option(c.alias).fold("")(a => s" AS ${dialect.quote(a)}"))
        Some((dialect.joinSideQuery(b.opts.source, b.pushedSql, sel),
          fields.flatten))
      }
    }
    val sides = for {
      (lSql, lFields) <- side(this, leftCols, joinType == RIGHT_OUTER_JOIN)
      (rSql, rFields) <- side(o, rightCols, joinType == LEFT_OUTER_JOIN)
      all = lFields ++ rFields
      // Spark's alias generation guarantees uniqueness; verify anyway —
      // a duplicate output name would make the outer SELECT ambiguous
      if all.map(_.name.toLowerCase).distinct.size == all.size
    } yield (lSql, rSql, all)
    sides match {
      case None => false
      case Some((lSql, rSql, joinedFields)) =>
        val joined = dialect.joinQuery(lSql, rSql, joinTypeSql, condSql,
          joinedFields.map(_.name))
        val newMap = opts.map -- Seq("dbtable", "partitioncolumn",
          "lowerbound", "upperbound", "numpartitions") + ("query" -> joined)
        table = new RemoteTableImpl(RemoteOptions(newMap), None,
          Some(RemoteSchema(joinedFields)))
        required = table.transformedSchema
        pushedPreds = Array.empty
        pushedSql = Nil
        true
    }
  }

  override def build(): Scan =
    new RemoteScan(table, pushedSql, required, limit, sortSql, offset, agg)
}

/** A pushed-down (complete) aggregate: the rendered SELECT list
  * (grouping columns first, then aggregates), the GROUP BY column list,
  * and one remote field per result column, which the scan reader
  * decodes like the columns of a plain scan. */
final case class PushedAgg(
    select: Seq[String],
    groupBy: Seq[String],
    fields: Seq[RemoteField]) {
  def schema: StructType = RemoteSchema(fields).toSpark
}

object PushedAgg {
  /** The remote query of a pushed aggregate: `select` over the filtered
    * source, grouped by `groupBy`. The scan reader and [[ScanCodec]]'s
    * replay both render it here, so a replay runs the scan's query. */
  def sql(dialect: Dialect, source: RemoteSource, filters: Seq[String],
      select: Seq[String], groupBy: Seq[String]): String = {
    val from = dialect.rewriteQuery(source, filters, None, None)
    val groupSql =
      if (groupBy.isEmpty) "" else groupBy.mkString(" GROUP BY ", ", ", "")
    s"SELECT ${select.mkString(", ")} " +
      s"FROM ($from) ${dialect.subqueryAlias}A$groupSql"
  }
}

/** Input split: optional extra range predicate for parallel reads,
  * plus any execution-time runtime filters (broadcast-join IN lists).
  * The reference always scans with one partition
  * (`Partitioning::UnknownPartitioning(1)`, `scan.rs:62`); we keep that
  * default but admit JDBC-style range splits (SURVEY §7.4). */
final case class RemotePartition(
    index: Int,
    rangePredicate: Option[String],
    runtimeSql: Seq[String] = Nil)
  extends InputPartition

class RemoteScan(
    table: RemoteTableImpl,
    pushedSql: Seq[String],
    required: StructType,
    limit: Option[Int],
    sortSql: Seq[String],
    offset: Option[Int],
    agg: Option[PushedAgg])
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering with Logging {

  private val opts = table.opts

  // ---- runtime filtering (SupportsRuntimeV2Filtering) -----------------
  // The connector-side analogue of dynamic partition pruning: when this
  // scan is the probe side of a broadcast join, Spark hands the build
  // side's join-key values here at execution time as IN predicates;
  // rendering them into the remote WHERE clause means the remote DB
  // ships only joinable rows — at 100 TB federation scale, the scan
  // volume drops to the dimension's selectivity. Purely an
  // optimization: Spark still evaluates the join, so declining (or a
  // failed render) never changes results.
  @volatile private var runtimeSql: Seq[String] = Nil

  private def runtimeFilterable: Boolean =
    opts.runtimeFilterPushdown && !table.isCommand && agg.isEmpty &&
      opts.transformClass.isEmpty && opts.dialect.supportsRuntimeFilters &&
      opts.dialect.isRewritable(opts.source)

  override def filterAttributes(): Array[NamedReference] =
    if (runtimeFilterable) {
      required.fieldNames.map(
        org.apache.spark.sql.connector.expressions.Expressions.column)
    } else Array.empty

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val builder = new V2PredicateSQL(opts.dialect)
    runtimeSql = predicates.toSeq.flatMap { p =>
      // a multi-megabyte IN (…) costs the remote parser more than the
      // scan saves — cap the list, skip (never truncate) beyond it
      if (p.name() == "IN" &&
          p.children().length - 1 > opts.runtimeFilterMaxInList) {
        logInfo(s"runtime filter skipped (IN list > " +
          s"${opts.runtimeFilterMaxInList}): ${p.name()}")
        None
      } else {
        try Some(builder.build(p))
        catch {
          case e: Exception =>
            logInfo(s"runtime filter not renderable for " +
              s"${opts.dialect.getClass.getSimpleName}: $p ($e)")
            None
        }
      }
    }
  }

  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)

  override def toBatch: Batch = this

  override def description(): String = {
    val f = pushedSql.mkString(", ")
    s"graft-remote ${table.name()} PushedFilters: [$f], " +
      s"PushedLimit: ${limit.getOrElse(-1)}, " +
      s"PushedTopN: [${sortSql.mkString(", ")}], " +
      s"PushedOffset: ${offset.getOrElse(-1)}, " +
      s"PushedAggregates: ${agg.isDefined}, " +
      s"PushedGroupBy: [${agg.toSeq.flatMap(_.groupBy).mkString(", ")}]"
  }

  /** Everything [[ScanCodec]] needs to reproduce this scan in another
    * process (options, source, pruned schema, every pushdown). */
  private[sources] def codecState: ScanState = {
    val (kind, src) = opts.source match {
      case RemoteSource.TableRef(parts) => ("table", parts.mkString("."))
      case RemoteSource.Query(sql) => ("query", sql)
    }
    ScanState(
      version = ScanCodec.Version,
      options = opts.map,
      sourceKind = kind,
      source = src,
      readSchemaDdl = required.toDDL,
      pushedFilters = pushedSql,
      limit = limit,
      offset = offset,
      sortOrder = sortSql,
      aggSelect = agg.toSeq.flatMap(_.select),
      aggGroupBy = agg.toSeq.flatMap(_.groupBy),
      aggSchemaDdl = agg.map(_.schema.toDDL))
  }

  /** Remote MIN/MAX of the partition column, probed ONCE per scan at
    * planning time when `partitioncolumn` + `numpartitions` are set
    * WITHOUT explicit bounds — one cheap (typically index-only) remote
    * aggregate replaces the look-up-the-key-range-by-hand step every
    * range-partitioned ingest otherwise needs, and the bounds track
    * the table as it grows instead of fossilizing in job config.
    * Pushed filters fold into the probe so the range matches what the
    * scan will read. Probe failure (or an empty/all-NULL column) falls
    * back to one partition with a warning — parallelism is an
    * optimization, never a correctness dependency. */
  private lazy val probedBounds: Option[(Long, Long)] =
    opts.partitionColumn.flatMap { c =>
      try {
        val q = opts.dialect.quote(c)
        val where =
          if (pushedSql.isEmpty) ""
          else pushedSql.mkString(" WHERE (", ") AND (", ")")
        val sql = s"SELECT MIN($q), MAX($q) FROM " +
          s"${opts.dialect.fromClause(opts.source)}$where"
        GraftConnections.withConnection(opts) { conn =>
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery(sql)
            try {
              rs.next()
              val lo = rs.getLong(1); val loNull = rs.wasNull()
              val hi = rs.getLong(2); val hiNull = rs.wasNull()
              if (loNull || hiNull) None else Some((lo, hi))
            } finally rs.close()
          } finally st.close()
        }
      } catch {
        case e: Exception =>
          logWarning(s"partition-bounds probe failed, scanning with one " +
            s"partition: $e")
          None
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val n = opts.numPartitions
    val bounds =
      if (opts.partitionColumn.isEmpty || n <= 1) None
      else (opts.lowerBound, opts.upperBound) match {
        case (Some(l), Some(h)) => Some((l, h))
        case (l, h) => probedBounds.map(p =>
          (l.getOrElse(p._1), h.getOrElse(p._2)))
      }
    (opts.partitionColumn, bounds.map(_._1), bounds.map(_._2)) match {
      case (Some(col), Some(lo), Some(hi)) if n > 1 && agg.isEmpty =>
        val q = opts.dialect.quote(col)
        val stride = math.max(1L, (hi - lo) / n)
        (0 until n).map { i =>
          val lower = if (i == 0) None else Some(s"$q >= ${lo + i * stride}")
          val upper =
            if (i == n - 1) None else Some(s"$q < ${lo + (i + 1) * stride}")
          // NULL partition values satisfy no range predicate — route them to
          // partition 0 (same convention as Spark's JDBC relation) so a
          // nullable partition column never silently loses rows.
          val pred = (lower ++ upper).reduceOption((a, b) => s"$a AND $b")
            .map(p => if (i == 0) s"($p OR $q IS NULL)" else p)
          RemotePartition(i, pred, runtimeSql): InputPartition
        }.toArray
      // BatchScanExec re-plans partitions after filter(), so runtime
      // filters ride the partitions into every reader
      case _ => Array(RemotePartition(0, None, runtimeSql))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RemoteReaderFactory(opts, table.remoteSchema, table.transformedSchema,
      required, pushedSql, limit, sortSql, offset, agg, table.isCommand)

  /** Incremental micro-batch stream over `streamingcolumn` (a
    * monotonically-increasing integral column, e.g. an identity key):
    * each trigger reads `col > lastOffset AND col <= remote MAX(col)`.
    * Pushed filters and column pruning apply to every micro-batch.
    * At-least-once per committed range; rows that appear with
    * already-passed column values are missed — the standard contract of
    * incremental JDBC ingestion. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(opts.streamingColumn.isDefined,
      "streaming read needs option streamingcolumn=<monotonic column>")
    require(agg.isEmpty && limit.isEmpty && sortSql.isEmpty && offset.isEmpty,
      "streaming read does not compose with limit/top-N/offset/aggregate pushdown")
    require(!table.isCommand && opts.dialect.isRewritable(opts.source),
      "streaming read needs a rewritable table or SELECT query source")
    new RemoteMicroBatchStream(opts, table.remoteSchema,
      table.transformedSchema, required, pushedSql)
  }

  /** Exact COUNT(1)-backed statistics (reference `table.rs:417-426`,
    * `scan.rs:128-152`): runs once per scan, honors pushed filters,
    * min(count, limit). Opt-in via `enablestatistics` like the
    * reference's `enable_table_statistics`. */
  private lazy val stats: Statistics = new Statistics {
    private val rows: Option[Long] =
      if (opts.enableStatistics && !table.isCommand &&
          opts.dialect.isRewritable(opts.source) &&
          opts.dialect.supportsCountStatistics) {
        try {
          val c = Jdbc.count(opts, pushedSql)
          Some(limit.fold(c)(l => math.min(c, l.toLong)))
        } catch {
          case e: Exception => logWarning(s"statistics count failed: $e"); None
        }
      } else None
    override def sizeInBytes(): OptionalLong =
      rows.map(r => OptionalLong.of(r * 8L * math.max(1, required.size)))
        .getOrElse(OptionalLong.empty())
    override def numRows(): OptionalLong =
      rows.map(OptionalLong.of).getOrElse(OptionalLong.empty())
  }
  override def estimateStatistics(): Statistics = stats
}

class RemoteReaderFactory(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    transformedSchema: StructType,
    required: StructType,
    pushedSql: Seq[String],
    limit: Option[Int],
    sortSql: Seq[String],
    offset: Option[Int],
    agg: Option[PushedAgg],
    isCommand: Boolean)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[RemotePartition]
    val filters = pushedSql ++ part.rangePredicate ++ part.runtimeSql
    if (isCommand) {
      if (opts.command.contains("pool_state")) new PoolStateReader(opts)
      else new ListTablesReader(opts)
    } else agg match {
      case Some(a) =>
        new FastRowReader(opts,
          PushedAgg.sql(opts.dialect, opts.source, filters, a.select, a.groupBy),
          a.fields, a.schema)
      case None if opts.transformClass.isEmpty =>
        val fields = required.fields.toSeq.map(f => remoteSchema(f.name))
        new FastRowReader(opts,
          opts.dialect.rewriteQuery(opts.source, filters, limit,
            Some(fields.map(_.name)), sortSql, offset),
          fields, required)
      case None =>
        // the transform may read any raw column (reference
        // `scan.rs:208-232`), so the remote SELECT keeps them all
        val raw = new FastRowReader(opts,
          opts.dialect.rewriteQuery(opts.source, filters, limit, None,
            sortSql, offset),
          remoteSchema.fields, remoteSchema.toSpark)
        new TransformRowReader(opts, remoteSchema, transformedSchema,
          required, raw)
    }
  }
}

/** The connector's scan reader: runs one remote SELECT and decodes each
  * row straight to an InternalRow through [[Jdbc.catalystGetter]], one
  * getter per result column (`fields` by position, `schema` giving the
  * Spark type each column decodes to). Plain scans SELECT only the
  * pruned columns (reference O1 + decode-side O2, but with the SELECT
  * list rewritten as SURVEY §2.1 recommends); pushed aggregates read
  * their group rows; the Transform reads its raw rows through it.
  *
  * This is the one copy of the cursor lifecycle: borrow a pooled
  * connection, create the statement, set the fetch size, log the SQL
  * to [[ScanSqlLog]], execute; [[close]] releases all three, and a
  * failed execute releases them before the error leaves. */
class FastRowReader(
    opts: RemoteOptions,
    sql: String,
    fields: Seq[RemoteField],
    schema: StructType)
  extends PartitionReader[InternalRow] {

  private val conn = GraftConnections.open(opts)
  private var stmt: java.sql.Statement = _
  private val rs: java.sql.ResultSet =
    try {
      stmt = conn.createStatement()
      stmt.setFetchSize(opts.fetchSize)
      ScanSqlLog.record(sql)
      stmt.executeQuery(sql)
    } catch {
      case e: Throwable =>
        try close() catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
  private val getters = fields.zip(schema.fields).map {
    case (rf, sf) => Jdbc.catalystGetter(rf, sf.dataType)
  }.toArray
  private val width = getters.length

  override def next(): Boolean = rs.next()

  override def get(): InternalRow = {
    val arr = new Array[Any](width)
    var i = 0
    while (i < width) { arr(i) = getters(i)(rs, i + 1); i += 1 }
    new GenericInternalRow(arr)
  }

  override def close(): Unit =
    try { if (rs != null) rs.close(); if (stmt != null) stmt.close() }
    finally GraftConnections.close(conn)
}

/** Transform path: the user transform rewrites the raw rows of `raw`
  * (every remote column), then the output is projected to the pruned
  * schema and converted to InternalRow (projection applied after
  * transform, `transform.rs:143-150`). Raw rows reach the transform as
  * external Rows of the raw Spark schema, converted by Spark's own
  * [[CatalystTypeConverters]] — the types its `Row` API documents. */
class TransformRowReader(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    transformedSchema: StructType,
    required: StructType,
    raw: FastRowReader)
  extends PartitionReader[InternalRow] {

  private val rawSchema = remoteSchema.toSpark
  private val toRow = CatalystTypeConverters.createToScalaConverter(rawSchema)

  /** The raw-row iterator handed to the user Transform. `hasNext` must be
    * idempotent (user code may legally call it more than once per `next()` —
    * `isEmpty`, `buffered`, defensive checks), so the underlying side-effecting
    * cursor advance is cached behind a one-step lookahead flag. */
  private val rawRows: Iterator[org.apache.spark.sql.Row] =
    new Iterator[org.apache.spark.sql.Row] {
      private var advanced = false
      private var hasRow = false
      def hasNext: Boolean = {
        if (!advanced) { hasRow = raw.next(); advanced = true }
        hasRow
      }
      def next(): org.apache.spark.sql.Row = {
        if (!hasNext) throw new NoSuchElementException("next on empty remote cursor")
        advanced = false
        toRow(raw.get()).asInstanceOf[org.apache.spark.sql.Row]
      }
    }

  private val projIdx: Array[Int] =
    required.fields.map(f => transformedSchema.fieldIndex(f.name))
  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(required)
  private val out: Iterator[InternalRow] =
    opts.transform.transform(rawRows, rawSchema,
      TransformContext(opts.dialect.name, rawSchema, remoteSchema)).map { row =>
      val vals = projIdx.map(row.get).toIndexedSeq
      toCatalyst(org.apache.spark.sql.Row.fromSeq(vals))
        .asInstanceOf[InternalRow]
    }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (out.hasNext) { current = out.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = raw.close()
}

/** `list_tables` metadata command (reference `ListMdbTables`,
  * `connection/mdb/mod.rs:352-517`): user tables/views via JDBC
  * `DatabaseMetaData.getTables`, system tables filtered out. */
/** One-row pool introspection for the executing JVM (reference
  * `Pool::state`, `connection/mod.rs:56-60`): how many physical
  * connections this executor holds for the given remote identity, and
  * how many are idle. On a cluster each task reports ITS executor —
  * exactly the number an operator debugging connection storms wants. */
class PoolStateReader(opts: RemoteOptions)
  extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = !done && { done = true; true }
  override def get(): InternalRow = {
    val st = GraftConnectionPool.state(opts)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(opts.url), st.connections, st.idleConnections))
  }
  override def close(): Unit = ()
}

class ListTablesReader(opts: RemoteOptions)
  extends PartitionReader[InternalRow] {

  private val conn = GraftConnections.open(opts)
  private val rs = conn.getMetaData.getTables(null, null, "%",
    Array("TABLE", "BASE TABLE", "VIEW"))

  override def next(): Boolean = rs.next()

  override def get(): InternalRow = new GenericInternalRow(Array[Any](
    UTF8String.fromString(rs.getString("TABLE_NAME")),
    UTF8String.fromString(rs.getString("TABLE_TYPE"))))

  override def close(): Unit = {
    try rs.close() finally GraftConnections.close(conn)
  }
}
