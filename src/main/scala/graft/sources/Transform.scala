package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** User batch-rewrite hook — the port of the reference's `Transform`
  * trait (`transform.rs:23-33`): rewrites every fetched row *inside the
  * source* (so pushdown negotiation still sees it), may rename / add /
  * remove / retype columns.
  *
  * Output schema is discovered by applying [[transformSchema]] to the
  * raw table schema — the analogue of the reference's transform of an
  * empty batch (`transform.rs:169-192`). The reference can DERIVE the
  * output schema because its transform operates on Arrow RecordBatches,
  * which carry a schema even when empty; Spark's external `Row`s carry
  * no type information (an empty iterator in = an empty iterator out,
  * and nulls in a probe row are untypeable), so the declared
  * [[transformSchema]] is the contract here. Drift between the two
  * methods surfaces immediately: the reader projects the transform's
  * output by [[transformSchema]]'s field names and converts values by
  * its field types, so a mismatch fails the first scanned batch loudly
  * rather than corrupting data.
  *
  * ROW TYPES: the raw rows are external Rows of the raw Spark schema,
  * decoded by the same getters as a plain scan and converted by Spark's
  * own `CatalystTypeConverters`, so each value has the type Spark's
  * `Row` API documents for its column: a DECIMAL arrives as
  * `java.math.BigDecimal` (`row.getDecimal`), DATE as `java.sql.Date`,
  * TIMESTAMP_NTZ as `java.time.LocalDateTime`, TIMESTAMP as
  * `java.sql.Timestamp` (DATE and TIMESTAMP as `java.time.LocalDate` and
  * `java.time.Instant` under `spark.sql.datetime.java8API.enabled`), an
  * ARRAY as a `Seq` and a `structcol` column as a `Row`. The types with
  * no Spark counterpart keep the source's conventions: TIME is a `Long`
  * of µs since midnight, a DECIMAL wider than 38 digits a `String`.
  *
  * [[filterRename]] maps a *transformed* column name back to the source
  * column it derives from, letting filters written against transformed
  * names still push down to the remote DB (reference `transform.rs:26-33`,
  * exercised by `integration-tests/tests/common.rs:251-277`). Return
  * None to veto pushdown of filters on that column. The DEFAULT is None
  * (veto): pushed filters have Exact semantics — Spark never re-evaluates
  * them — so a transform that changes a column's values while keeping its
  * name must opt IN to pushdown explicitly, not remember to opt out.
  *
  * Implementations must have a no-arg constructor (instantiated from
  * the option map on executors) and be pure row-level functions —
  * they run once per partition per task.
  *
  * CONTEXT: the reference hands its transform the database type, the
  * Spark-side table schema AND the remote-native schema
  * (`transform.rs:17-21` — `db_type`, `table_schema`, `remote_schema`);
  * a transform that must branch on the remote-native type (TIME decoded
  * as µs-long vs a plain long column, decimal>38 carried as string)
  * cannot do so from the Spark schema alone. The ctx-taking overloads
  * carry that parity; their defaults delegate to the legacy signatures
  * so existing transforms keep working unchanged.
  */
trait Transform extends Serializable {
  def transformSchema(schema: StructType): StructType
  def transform(rows: Iterator[Row], schema: StructType): Iterator[Row]
  def filterRename(transformedColumn: String): Option[String] = None

  /** Context-aware overloads (reference `transform.rs:17-33`). The
    * source calls THESE; the defaults forward to the legacy methods. */
  def transformSchema(schema: StructType, ctx: TransformContext): StructType =
    transformSchema(schema)
  def transform(rows: Iterator[Row], schema: StructType,
      ctx: TransformContext): Iterator[Row] =
    transform(rows, schema)
  def filterRename(transformedColumn: String,
      ctx: TransformContext): Option[String] =
    filterRename(transformedColumn)
}

/** What the source knows about the table it is transforming — the port
  * of the reference's transform args (`transform.rs:17-21`):
  * `dbType` = dialect name ("derby", "duckdb", "postgres", …),
  * `tableSchema` = the raw Spark-side schema (pre-transform),
  * `remoteSchema` = the remote-NATIVE column types, which distinguish
  * cases the Spark schema collapses (TIME→long, unsigned widenings,
  * decimal precision > 38 → string). Serializable: it rides into the
  * per-partition reader task next to the transform itself. */
final case class TransformContext(
    dbType: String,
    tableSchema: StructType,
    remoteSchema: RemoteSchema) extends Serializable

/** Default no-op transform (reference `DefaultTransform`): values pass
  * through untouched, so filter pushdown under the same name is sound. */
object IdentityTransform extends Transform {
  def transformSchema(schema: StructType): StructType = schema
  def transform(rows: Iterator[Row], schema: StructType): Iterator[Row] = rows
  override def filterRename(transformedColumn: String): Option[String] =
    Some(transformedColumn)
}
