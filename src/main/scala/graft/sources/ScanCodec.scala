package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Versioned cross-process codec for a remote scan description — the
  * Spark-native analogue of the reference's protobuf plan codec
  * (`codec.rs:114-283`, round-tripped by
  * `integration-tests/tests/common.rs:64-108`).
  *
  * Inside one Spark job the scan already ships to executors via task
  * serialization (SURVEY §2.1 O9); this codec covers the OTHER use the
  * reference's proto serves — handing a fully-pushed-down scan to a
  * different process (a scheduler, an audit log, a replay harness) as
  * a stable, human-readable artifact. The format is JSON with an
  * explicit `version` field; decode rejects versions it does not know
  * rather than guessing at field semantics.
  *
  * What is captured: connector options (the connection + behavior
  * map), the source (table or SELECT), the pruned read schema (Spark
  * DDL), every pushed filter's rendered SQL, limit/offset, pushed
  * top-N sort, and a pushed complete aggregate (select list, GROUP BY,
  * result schema). That is exactly the state the partition readers
  * render into the remote SQL, so `execute` reproduces the same remote
  * query the original scan would run.
  */
final case class ScanState(
    version: Int,
    options: Map[String, String],
    sourceKind: String, // "table" | "query"
    source: String, // dot-joined table name, or the SELECT text
    readSchemaDdl: String,
    pushedFilters: Seq[String],
    limit: Option[Int],
    offset: Option[Int],
    sortOrder: Seq[String],
    aggSelect: Seq[String],
    aggGroupBy: Seq[String],
    aggSchemaDdl: Option[String])

object ScanCodec {
  val Version = 1

  /** Extract the ScanState of the SINGLE graft-remote scan in `df`'s
    * executed plan (throws if there is none, or more than one — a
    * codec artifact must be unambiguous about what it describes). */
  def describe(df: DataFrame): ScanState = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collect { case r: RemoteScan => r }
    require(scans.length == 1,
      s"ScanCodec.describe: expected exactly one graft-remote scan, " +
        s"found ${scans.length}")
    scans.head.codecState
  }

  def encode(st: ScanState): String = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(st)
  }

  def decode(json: String): ScanState = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    val v = (parsed \ "version") match {
      case org.json4s.JInt(n) => n.toInt
      case _ => throw new IllegalArgumentException(
        "ScanCodec.decode: missing version field")
    }
    require(v == Version,
      s"ScanCodec.decode: unsupported version $v (this build reads " +
        s"version $Version) — refusing to guess at field semantics")
    parsed.extract[ScanState]
  }

  /** Re-execute a decoded scan: render the SAME remote SQL the
    * original scan's partition readers would ([[PushedAgg.sql]] for
    * pushed aggregates; `rewriteQuery` with the pruned SELECT list
    * otherwise) and run it through the connector's
    * `query` source. The result is cast to the encoded schema so the
    * round trip is schema-identical even where remote type inference
    * widens (e.g. COUNT's BIGINT). */
  def execute(spark: SparkSession, st: ScanState): DataFrame = {
    require(st.version == Version,
      s"ScanCodec.execute: unsupported version ${st.version}")
    val opts = RemoteOptions(st.options)
    val dialect = opts.dialect
    val src: RemoteSource = st.sourceKind match {
      case "table" => RemoteSource.TableRef(st.source.split('.').toSeq)
      case "query" => RemoteSource.Query(st.source)
      case k => throw new IllegalArgumentException(
        s"ScanCodec.execute: unknown sourceKind '$k'")
    }
    val schema = StructType.fromDDL(
      st.aggSchemaDdl.getOrElse(st.readSchemaDdl))
    val sql =
      if (st.aggSchemaDdl.isDefined) {
        // alias every select item with the encoded result-schema name:
        // the replay reads THROUGH the connector's query source, whose
        // schema inference needs stable column names (a bare COUNT(*)
        // would surface as the remote's positional auto-name)
        val sel = st.aggSelect.zip(schema.fieldNames).map {
          case (s, n) => s"$s AS ${dialect.quote(n)}"
        }
        PushedAgg.sql(dialect, src, st.pushedFilters, sel, st.aggGroupBy)
      } else dialect.rewriteQuery(src, st.pushedFilters, st.limit,
        Some(schema.fieldNames.toSeq), st.sortOrder, st.offset)
    var r = spark.read.format("graft-remote")
    (st.options - "dbtable" - "query" + ("query" -> sql)).foreach {
      case (k, v) => r = r.option(k, v)
    }
    val loaded = r.load()
    loaded.select(loaded.columns.toSeq.zip(schema.fields).map {
      case (c, f) => col(c).cast(f.dataType).as(f.name)
    }: _*)
  }
}
