package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate-count regression guard.
  *
  * Round 6 lesson: a fixture change broke four queries and the round's
  * correctness artifact silently shrank 100 → 96 gates — nothing in the
  * build failed, because Verify only stderr-logged the failures and the
  * driver's compare keys off the output dirs that exist. Verify now
  * exits non-zero on any failure; this spec closes the other half by
  * pinning the inventory itself, so DELETING or misregistering a gate
  * (name drift between queries and oracleSql, a module dropped from
  * SparkEntry's ++ chain) fails `sbt test` before any artifact is cut.
  */
class GateInventorySpec extends AnyFunSuite with ResetsSessionConfs {

  // Bump this floor when ADDING gates; it must never go down. 191 =
  // the round-10 inventory (60 q + 33 r + 80 p + 18 m); the 11 DuckDB
  // gates self-disable without the vendored jar (which build.sbt now
  // re-vendors from the coursier cache, so they are present wherever
  // the build itself runs).
  // 196 = round-11 inventory (60 q + 34 r + 84 p + 18 m)
  // 201 = round-13 inventory (60 q + 34 r + 89 p + 18 m)
  private val floor =
    if (DuckQueries.available) 201 else 189

  // The self-disable exists for a CLEAN checkout on a machine with no
  // coursier cache; it must NOT mask a vendoring regression where the
  // cache HAS the jar but build.sbt failed to wire it (round-10 ADVICE:
  // the 180-floor branch would silently pass with all 11 DuckDB gates
  // off). If the cache can supply the jar, availability is mandatory.
  test("DuckDB gates may not self-disable when the coursier cache has the jar") {
    val cache = new java.io.File(sys.props("user.home"), ".cache/coursier")
    def hasJar(f: java.io.File): Boolean =
      f.isFile && f.getName == "duckdb_jdbc-1.0.0.jar" ||
        (f.isDirectory && Option(f.listFiles).exists(_.exists(hasJar)))
    if (hasJar(cache))
      assert(DuckQueries.available,
        "coursier cache contains duckdb_jdbc-1.0.0.jar but DuckQueries " +
          "self-disabled — the build.sbt vendoring step regressed")
  }

  test(s"gate inventory never shrinks below $floor") {
    val n = SparkEntry.queries.size
    assert(n >= floor,
      s"SparkEntry.queries has $n entries, below the pinned floor $floor — " +
        "a gate was deleted or a module fell out of the ++ chain")
  }

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracleSql keys with no matching query (name drift): $orphans")
  }

  test("every query has an oracle (driver gates on BOTH)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without oracle SQL — the driver records only a weaker " +
        s"rows-only check for these: $missing")
  }

  test("bench headline names are all registered queries") {
    val unknown = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"Bench.headline references unknown queries: $unknown")
  }

  // Round-7 lesson (q54/p50): the driver's pandas canonicalizer throws
  // "unhashable type: numpy.ndarray" when it sorts an array-typed
  // output column, erroring the gate even when the values are
  // oracle-exact. Gate outputs must therefore be scalar — arrays are
  // array_join'ed before the gate boundary.
  test("no gate output column is array-typed (driver harness limit)") {
    import org.apache.spark.sql.types.ArrayType
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sf).schema.fields
          .filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"array-typed gate outputs (driver cannot canonicalize): $offenders")
  }
}
