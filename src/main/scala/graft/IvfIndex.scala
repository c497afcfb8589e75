package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, pmod, lit}

import graft.operators.VectorOps

/** Prebuilt IVF-PQ index fixtures over the `embeddings` table — the
  * ANN analogue of [[BucketedTables]]: the index is built ONCE per
  * source dir (the "nightly index build"), materialized as parquet,
  * and probe-only queries (p33/p34) consume the saved artifact. At
  * 100 TB this is the production shape: k-means training + corpus
  * quantization are paid at index-build time; each query or daily
  * increment pays only the broadcast-probe join (the same build/probe
  * split the reference's LazyPool memoization gives its connection
  * setup, `/root/reference/remote-table/src/table.rs:469-493`).
  *
  * Two variants per dir:
  *   - full: every vector (probe gate p33);
  *   - hist: the "historical corpus" 80% split `vec_id % 5 != 4`
  *     (incremental-screen gate p34 probes the other 20% against it).
  */
object IvfIndex {

  /** Fixed index geometry — a property of the built artifact, like
    * [[BucketedTables.BucketCount]]. */
  val NList = 8

  private def tag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  def fullPath(dir: String): String = s"/tmp/graft_ivf/full_${tag(dir)}"
  def histPath(dir: String): String = s"/tmp/graft_ivf/hist_${tag(dir)}"

  /** Centroids survive reload per path; the lists DataFrame is rebuilt
    * per call (a DataFrame binds to its session). */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  private def corpus(spark: SparkSession, dir: String) =
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  def histSplit(df: org.apache.spark.sql.DataFrame) =
    df.filter(pmod(col("id"), lit(5)) =!= 4)
  def deltaSplit(df: org.apache.spark.sql.DataFrame) =
    df.filter(pmod(col("id"), lit(5)) === 4)

  def ensureFull(spark: SparkSession, dir: String): VectorOps.IvfPqIndex =
    ensure(spark, fullPath(dir), corpus(spark, dir))

  def ensureHist(spark: SparkSession, dir: String): VectorOps.IvfPqIndex =
    ensure(spark, histPath(dir), histSplit(corpus(spark, dir)))

  private def ensure(spark: SparkSession, path: String,
      src: org.apache.spark.sql.DataFrame): VectorOps.IvfPqIndex =
    synchronized {
      val done = new java.io.File(s"$path/lists/_SUCCESS")
      if (!done.isFile) {
        // build once: training scans the corpus 2·iters + 1 times —
        // persist it for the build, release before returning
        val c = src.persist()
        try VectorOps.saveIvfPqIndex(
          VectorOps.buildIvfPqIndex(c, NList), path)
        finally c.unpersist(blocking = false)
        centroidCache.remove(path)
      }
      val cents = centroidCache.computeIfAbsent(path,
        p => VectorOps.loadIvfPqIndex(spark, p).centroids)
      VectorOps.IvfPqIndex(cents, Tables.parquet(spark, s"$path/lists"))
    }
}
