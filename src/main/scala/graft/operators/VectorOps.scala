package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity operators over an `Array[Float]` embedding column:
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane (sign-LSH) bucketed variant as the scale path.
  *
  * Dot products are `zip_with` + `aggregate` folds — sequential
  * left-to-right double accumulation, so results are bit-deterministic
  * regardless of partitioning.
  *
  * Scale notes (100 TB): brute-force top-k against a FIXED small query
  * set broadcasts the queries (one pass over the corpus, no shuffle
  * except the final per-query top-k). The LSH variant buckets both
  * sides by sign bits so candidate generation is a bucket-equi-join —
  * the same shape ANN IVF probing takes on a cluster.
  */
object VectorOps {

  /** Native tight-loop dot product; widens each float to double BEFORE
    * the product and accumulates left-to-right, so the result is
    * bit-identical to a double-precision reference engine. */
  def dot(a: Column, b: Column): Column =
    graft.functions.native.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query row, brute force.
    * `queries`/`corpus`: (id, vec). The query side is broadcast. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic mini-Lloyd k-means over (id, vec): seeds are the
    * `nlist` lowest-id vectors, then `iters` assign/mean rounds. Each
    * round is one shuffle-free assignment pass (centroids ride the plan
    * via [[graft.functions.NearestCentroids]]) plus a `posexplode` +
    * groupBy(cid, dim) mean — the classic distributed k-means update.
    * Only O(nlist·dim) aggregated values ever reach the driver (the
    * same contract as Spark ML's k-means `collect` of cluster centers);
    * corpus rows never do. */
  def trainCentroids(
      vecs: DataFrame, nlist: Int, iters: Int = 2): Seq[Seq[Double]] = {
    def toDoubles(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Float](0).map(_.toDouble)
    var cents: Seq[Seq[Double]] = vecs.orderBy(col("id")).limit(nlist)
      .select(col("vec")).collect().toSeq.map(toDoubles)
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("cid", element_at(
        graft.functions.native.nearest_centroids(col("vec"), cents, 1), 1))
      val means = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        // decimal mean: partial-sum order cannot perturb the centroids,
        // so training is bit-deterministic for a given dataset
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(27, 12)))
          / count(lit(1))).cast("double").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // empty clusters keep their previous centroid
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned
    * to their nearest centroid once (the inverted lists); each query
    * probes its `nprobe` nearest lists and brute-forces only those.
    * Work per query drops from |corpus| to ~|corpus|·nprobe/nlist.
    * Same output contract as [[bruteForceTopK]]; recall is governed by
    * nprobe/nlist (nprobe = nlist ⇒ exact). The scale shape: the
    * assignment pass is shuffle-free, the probe join is an equi-join on
    * cid with the (small) query side broadcast — the cluster analogue
    * of FAISS's IVF-Flat. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    val cents = trainCentroids(corpus, nlist, iters)
    val lists = corpus.select(col("id").as("neighbor_id"),
      col("vec").as("cv"),
      element_at(
        graft.functions.native.nearest_centroids(col("vec"), cents, 1), 1)
        .as("cid"))
    val probes = queries.select(col("id").as("query_id"), col("vec").as("qv"),
        explode(graft.functions.native.nearest_centroids(
          col("vec"), cents, nprobe)).as("cid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF-PQ-lite approximate top-k: IVF inverted lists that store
    * int8-QUANTIZED vectors ([[quantizeInt8]]) instead of float32 —
    * 4× smaller at rest and, more importantly at 100 TB, 4× less data
    * riding the probe join's broadcast/shuffle. Scoring is asymmetric
    * (ADC, the standard PQ trick): the float query scores directly
    * against the int8 codes — cosine is scale-invariant, so the
    * per-vector quantization scale cancels and never needs to ride
    * along. With `rescoreK > 0`, the top `k + rescoreK` quantized
    * candidates per query are re-scored against the float corpus
    * (an id equi-join touching only survivors — rescoring "on the
    * fly") and the final top-k ranks by exact float cosine; quantized
    * ordering errors inside the candidate band are repaired, probe
    * misses are not (the IVF recall contract, same as [[ivfTopK]]).
    * Composed entirely from the two gated primitives `quantizeInt8`
    * and the IVF probe shape of `ivfTopK`. */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int, nprobe: Int, iters: Int = 2, rescoreK: Int = 0): DataFrame = {
    val index = buildIvfPqIndex(corpus, nlist, iters)
    ivfPqProbe(queries, index, k, nprobe, rescoreK,
      if (rescoreK > 0) Some(corpus) else None)
  }

  /** A prebuilt IVF-PQ index: the k-means centroid model (driver-side,
    * O(nlist·dim) — it ships with task closures like any small model)
    * and the int8-quantized inverted lists (a DataFrame; at 100 TB a
    * parquet table written once via [[saveIvfPqIndex]] and probed
    * daily). Splitting build from probe is the ANN analogue of the
    * dedup index split ([[graft.operators.LshJoin.candidatesAcross]]):
    * training k-means + re-quantizing the corpus on every query — what
    * `ivfPqTopK` does for self-contained calls — is the 100 TB
    * anti-pattern; the index is built once, increments only probe. */
  final case class IvfPqIndex(centroids: Seq[Seq[Double]], lists: DataFrame)

  /** Train centroids and quantize the corpus into inverted lists — the
    * build-once half of IVF-PQ. `corpus`: (id, vec). */
  def buildIvfPqIndex(
      corpus: DataFrame, nlist: Int, iters: Int = 2): IvfPqIndex = {
    val cents = trainCentroids(corpus, nlist, iters)
    val (_, q8) = quantizeInt8(col("vec"))
    // int8 codes are exact in float; array<float> feeds the same native
    // dot kernel (and the same left-to-right double fold) as the float
    // path, so quantized cosines are bit-deterministic
    val lists = corpus.select(col("id").as("neighbor_id"),
      q8.cast("array<float>").as("qv8"),
      element_at(
        graft.functions.native.nearest_centroids(col("vec"), cents, 1), 1)
        .as("cid"))
    IvfPqIndex(cents, lists)
  }

  /** Materialize an index: inverted lists as parquet (partitioned by
    * nothing — the probe join hashes on cid anyway; at warehouse scale,
    * partition the write by cid for list-pruned scans), centroids as a
    * tiny (cid, c) parquet beside them. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    index.lists.write.mode("overwrite").parquet(s"$path/lists")
    val spark = index.lists.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  def loadIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    val cents = graft.Tables.parquet(spark, s"$path/centroids")
      .orderBy(col("cid")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    IvfPqIndex(cents, graft.Tables.parquet(spark, s"$path/lists"))
  }

  /** Probe-only IVF-PQ top-k against a prebuilt index — the daily-
    * increment half. Each query probes its `nprobe` nearest lists
    * (broadcast cid equi-join, 4×-smaller int8 payload riding it);
    * with `rescoreK > 0` the top `k + rescoreK` quantized candidates
    * re-score against `rescoreCorpus` floats (id equi-join touching
    * survivors only, candidate band explicitly broadcast so the float
    * corpus never shuffles). Same output contract and recall semantics
    * as [[ivfPqTopK]]; `nprobe = nlist` probes every list, making the
    * quantized stage an exact brute force (the oracle-strength
    * configuration). */
  def ivfPqProbe(
      queries: DataFrame, index: IvfPqIndex, k: Int, nprobe: Int,
      rescoreK: Int = 0, rescoreCorpus: Option[DataFrame] = None): DataFrame = {
    require(rescoreK <= 0 || rescoreCorpus.nonEmpty,
      "rescoreK > 0 needs the float corpus to rescore against")
    val cents = index.centroids
    val probes = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      explode(graft.functions.native.nearest_centroids(
        col("vec"), cents, nprobe)).as("cid"))
    val scored = index.lists.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcosine", cosine(col("qv"), col("qv8")))
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("qcosine").desc, col("neighbor_id"))
    if (rescoreK <= 0)
      scored.withColumn("rank", row_number().over(qw))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"),
          col("qcosine").as("cosine"), col("rank"))
    else {
      val cand = scored.withColumn("qrank", row_number().over(qw))
        .filter(col("qrank") <= k + rescoreK)
        .select(col("query_id"), col("qv"), col("neighbor_id"))
      // the candidate set is queries × (k + rescoreK) rows — broadcast
      // it explicitly so the float corpus never shuffles for the
      // rescore, regardless of what the size estimator thinks
      val rescored = rescoreCorpus.get
        .select(col("id").as("neighbor_id"), col("vec").as("cv"))
        .join(broadcast(cand), Seq("neighbor_id"))
        .withColumn("cosine", cosine(col("qv"), col("cv")))
      rescored.withColumn("rank",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id"))))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }
  }

  /** Sign-LSH bucket ids via the native [[graft.functions.LshBuckets]]
    * expression: `nTables` independent tables (OR), each an AND over
    * `nPlanes` deterministic splitmix hyperplane signs — the classic
    * OR-of-ANDs construction; recall at similarity s is 1-(1-p^r)^T
    * with p = 1 - acos(s)/π. One pass per row over the vector. */
  def lshBucketKeys(vec: Column, nPlanes: Int, nTables: Int): Column =
    graft.functions.native.lsh_buckets(vec, nPlanes, nTables)

  /** Size (nPlanes, nTables) from the corpus count so LSH work stays
    * LINEAR in n. With fixed planes the bucket COUNT is constant
    * (2^planes), so bucket size grows with n and candidate pairs grow
    * quadratically — measured: the fixture-sized (4, 24) config went
    * 2.5 s at 2k vectors → 503 s at 20k. Planes scale as
    * log2(n / targetBucket) (bounded buckets ⇒ candidates ∝ n·B·T);
    * tables compensate to hold `recall` at reference similarity `sRef`
    * via the OR-of-ANDs formula T = ln(1-R)/ln(1-p^planes),
    * p = 1 - acos(sRef)/π. Borderline-τ pairs see lower recall than
    * sRef pairs — the standard LSH contract at scale. */
  def lshAutoParams(n: Long, targetBucket: Int = 128, sRef: Double = 0.8,
      recall: Double = 0.95): (Int, Int) = {
    require(n > 0 && targetBucket > 0)
    // recall == 1.0 would size tables to Int.MaxValue (ln(0) = -inf);
    // exact recall is the brute-force oracle's job, not LSH's
    require(recall > 0 && recall < 1, s"recall must be in (0,1): $recall")
    require(sRef > 0 && sRef < 1, s"sRef must be in (0,1): $sRef")
    val planes = math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)
    val p = 1.0 - math.acos(sRef) / math.Pi
    val tables = math.max(4, math.ceil(
      math.log(1 - recall) / math.log(1 - math.pow(p, planes))).toInt)
    (planes, tables)
  }

  /** Near-duplicate pairs by cosine ≥ tau, LSH-bucketed: vectors only
    * compare within a (table, bucket) cell. More tables ⇒ higher
    * recall, more candidate work; more planes ⇒ smaller buckets.
    * Norms are computed once per vector, before the pair explosion.
    * At scale, size (nPlanes, nTables) with [[lshAutoParams]] — fixed
    * planes at growing n is an accidental O(n²). */
  /** @param dedupeEarly candidate-dedup strategy. `false` =
    *   VERIFY-THEN-DEDUPE (round 9): right when buckets are BOUNDED
    *   (the [[lshAutoParams]] sizing) — there the candidate stream is
    *   dominated by false candidates colliding in exactly ONE table
    *   (a second collision needs an independent p^planes event), so
    *   cross-table duplication is ~1.0× and the classic
    *   dedupe-before-verify order pays a candidate-sized EXCHANGE
    *   (measured sf1, adaptive params: ~50M pair rows through
    *   dropDuplicates) to remove almost nothing; verifying first costs
    *   one codegen'd dot product per occurrence, and the tau filter
    *   collapses the stream BEFORE the only pair-keyed exchange
    *   (measured sf1: 8.7 → 6.8 s). `true` (default) = dedupe first —
    *   right for few-large-buckets configs (p10's 2⁴ buckets), where
    *   pairs co-bucket in MANY tables and verify-first multiplies the
    *   dot-product work (measured sf0.1: 2.4 → 3.4 s for p10). */
  def lshNearDupPairs(
      vecs: DataFrame, tau: Double, nPlanes: Int = 3, nTables: Int = 8,
      maxBucket: Int = 10000,
      skewObs: Option[org.apache.spark.sql.Observation] = None,
      dedupeEarly: Boolean = true): DataFrame = {
    // Round-14: the 16 KB AQE coalescing floor for the compute-dense
    // pair-expansion stage (measured: p10's expansion ran 1.7-2.1 s as
    // ONE task) is set by LshJoin's candidate builders — see
    // LshJoin.expansionParallelism.
    // banding carries ONLY (id, tbl, bucket) — vectors never ride it
    val banded = vecs
      .select(col("id"), posexplode(lshBucketKeys(col("vec"), nPlanes, nTables)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    val cands =
      if (dedupeEarly)
        LshJoin.candidates(banded, Seq("tbl", "bucket"), maxBucket, skewObs)
      else
        LshJoin.candidatesRaw(banded, Seq("tbl", "bucket"), maxBucket, skewObs)
    // vectors (with precomputed norms) join back for verification only
    val payload = vecs.select(col("id"),
      struct(col("vec"), norm(col("vec")).as("nrm")).as("p"))
    val verified = LshJoin.attach(cands, payload, "p")
      .select(col("id_a"), col("id_b"),
        (dot(col("p_a.vec"), col("p_b.vec"))
          / (col("p_a.nrm") * col("p_b.nrm"))).as("cosine"))
      .filter(col("cosine") >= tau)
    if (dedupeEarly) verified else verified.dropDuplicates("id_a", "id_b")
  }

  /** Symmetric int8 quantization of an embedding column — the ANN
    * storage-scale primitive (4× smaller vectors, SIMD-friendly
    * distance kernels downstream). Per-vector scale = 127/max|x|;
    * values round half-away-from-zero, which Spark's round(double) and
    * any IEEE engine agree on, so the gate verifies the quantized
    * values exactly. Per-row, shuffle-free. Returns (scale, q). */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val ma = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(ma === 0, 0.0).otherwise(lit(127.0) / ma)
    // bind the per-row scale ONCE through a 1-element HOF: inlining
    // `scale` into the per-element lambda re-evaluates the array_max
    // for EVERY element — O(dim²) per row (measured at sf0.1: p23
    // 3.4 s with the inlined spelling, sub-second with the binding)
    val q = flatten(transform(array(scale), s =>
      transform(vec, x => round(x.cast("double") * s).cast("int"))))
    (scale, q)
  }

  /** Exact cosine pairs whose SMALLER id lies in `sample` — the
    * linear-cost (|sample|·n) recall probe for LSH output at scale;
    * the full O(n²) [[bruteForcePairs]] stays fixture-only. */
  def bruteForcePairsFrom(sample: DataFrame, all: DataFrame, tau: Double): DataFrame = {
    val a = sample.select(col("id").as("id_a"), col("vec").as("v_a"))
    val b = all.select(col("id").as("id_b"), col("vec").as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Brute-force cosine pairs ≥ tau — exact baseline, O(n²). */
  def bruteForcePairs(vecs: DataFrame, tau: Double): DataFrame = {
    val a = vecs.select(col("id").as("id_a"), col("vec").as("v_a"))
    val b = vecs.select(col("id").as("id_b"), col("vec").as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Assign every vector to its nearest SEED vector (the `nSeeds`
    * lowest-id vectors as fixed anchors). Deterministic by construction
    * — no k-means iterations, no RNG — so the full assignment is
    * exactly reproducible by a reference engine, unlike a trained
    * quantizer (p11's oracle can only assert recall). Seeds are
    * collected once (O(nSeeds·dim), the "tiny model to the driver"
    * contract of [[trainCentroids]]) and ride the plan inside the
    * native [[graft.functions.NearestCentroids]] expression: per-row,
    * shuffle-free, codegen'd — the corpus is touched once. */
  def seedAssign(vecs: DataFrame, nSeeds: Int): DataFrame = {
    val seedRows = vecs.orderBy(col("id")).limit(nSeeds)
      .select(col("id"), col("vec")).collect()
    require(seedRows.nonEmpty, "no seed vectors")
    val cents: Seq[Seq[Double]] =
      seedRows.map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    // nearest seed INDEX -> seed id (seeds were taken in ascending id
    // order, so the index order IS the id order — the oracle can
    // reproduce the mapping with a rank over seed ids)
    val seedIdArr = array(seedRows.map(r => lit(r.getLong(0))): _*)
    val idx = graft.functions.native.nearest_centroids(col("vec"), cents, 1)
    vecs.withColumn("cluster",
      element_at(seedIdArr, element_at(idx, 1) + lit(1)))
  }

  /** Semantic decontamination: flag corpus vectors whose cosine to ANY
    * eval-set vector reaches `tau` — the embedding analogue of the
    * n-gram contamination screen (`DedupOps.contaminationCounts`),
    * catching paraphrased/reformatted eval leakage that shares no
    * shingles with the original. Scale shape: the eval set is tiny by
    * construction (a benchmark), so it is collected ONCE (O(k·dim))
    * and folded into a single per-row expression — the corpus is
    * touched once inside whole-stage codegen, with no join, no
    * broadcast table, and no shuffle; at 100 TB the plan is scan →
    * project → filter. Returns (id, nearest_eval, max_cos), ties on
    * cosine broken toward the smallest eval id (`array_position` finds
    * the FIRST maximum; evals ride in ascending-id order). */
  def semanticContamination(
      corpus: DataFrame, evalSet: DataFrame, tau: Double): DataFrame = {
    val evals = evalSet.select(col("id"), col("vec")).orderBy(col("id"))
      .collect()
    require(evals.nonEmpty, "empty eval set")
    // The eval matrix rides as ONE reference object inside the native
    // NearestEval expression (round 11): the first cut folded one
    // cosine COLUMN per eval into the projection, which compiled at
    // ~500 evals and blew past codegen limits at ~5k (caught by the
    // sf10 decade stress — the "linear corpus×evals" law held, but its
    // SPELLING capped k). Arithmetic is bit-identical (index-order
    // double accumulation, first-maximum tie toward the smallest eval
    // id), so gate hashes are unchanged; the plan remains scan →
    // project → filter at any k.
    val ids = evals.map(_.getLong(0)).toSeq
    val vecs = evals.toSeq.map(_.getSeq[Float](1))
    val ne = graft.functions.native.nearest_eval(col("vec"), ids, vecs)
    corpus.select(col("id"), ne.as("ne"))
      .select(col("id"), col("ne.nearest_eval").as("nearest_eval"),
        col("ne.max_cos").as("max_cos"))
      .filter(col("max_cos") >= tau)
  }

  /** Cluster-balanced diversity sampling (the cluster-then-sample
    * stage of SemDeDup-style curation): cap each semantic neighborhood
    * at `quota` rows so over-represented regions of embedding space
    * stop dominating the training mix. Assignment is one shuffle-free
    * pass ([[seedAssign]]); the cap runs on the TopKPerKey physical
    * operator via [[SampleOps.quotaPerKey]] — per-partition bounded
    * heaps collapse hot clusters BEFORE the shuffle, so a cluster
    * holding half the corpus ships O(tasks·quota) rows, not half the
    * corpus. Hash-ranked selection keeps reruns/retries identical and
    * avoids the keep-the-oldest bias of ranking by id. */
  def diversitySample(
      vecs: DataFrame, nSeeds: Int, quota: Int, salt: Long = 0L): DataFrame =
    SampleOps.quotaPerKey(seedAssign(vecs, nSeeds), col("cluster"), "id",
        quota, salt)
      .select(col("id"), col("cluster"))

  /** Per-(label, dim) centroid card: n, decimal-disciplined component
    * sums, centroid (mean) and RMS. Cross-row float sums are
    * partial-merge-order-dependent, so both sums ride the q49 decimal
    * discipline — raw components quantized at scale 9 (no products),
    * squares as exact (12,6)×(12,6) decimal products; every unscaled
    * sum stays < 2^53, where decimal→double is one correctly-rounded
    * op in any engine. Plan: posexplode to (label, dim, v), ONE
    * groupBy — map-side combine collapses each task to |labels|·dim
    * rows before the shuffle. Shared by p62 (the card) and p63
    * (cross-snapshot drift). */
  def labelCentroids(df: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val vd = col("v").cast(DoubleType)
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(vd.cast(DecimalType(20, 9))).cast(DoubleType).as("sum_v"),
        sum(vd.cast(DecimalType(12, 6)) * vd.cast(DecimalType(12, 6)))
          .cast(DoubleType).as("sum_sq"))
      .withColumn("centroid", col("sum_v") / col("n"))
      .withColumn("rms", sqrt(col("sum_sq") / col("n")))
  }

  /** ORACLE-EXACT distributed Lloyd k-means over (id, vec): seeds are
    * the `k` lowest-id vectors, then `iters` assign/mean rounds. The
    * same plan shape as [[trainCentroids]] (shuffle-free assignment via
    * the codegen'd [[graft.functions.NearestCentroids]] expression, one
    * posexplode + groupBy(cid, dim) per round, only O(k·dim) aggregated
    * values ever reaching the driver) but with the centroid UPDATE in
    * fully cross-engine arithmetic: component sums ride the p62 decimal
    * discipline (scale-11 quantization, exact decimal addition, one
    * correctly-rounded decimal→double cast) and the mean is a single
    * double division — so a reference engine can replay TRAINING
    * bit-for-bit, not just assert recall on the result. (trainCentroids
    * keeps its decimal-division form because the materialized IVF index
    * fixtures are built from it; this is the gate-grade variant.)
    * Unscaled-sum headroom: |x| ≤ 1-ish embedding components at scale
    * 11 keep Σ|x|·10^11 < 2^53 up to ~90k members per (cid, dim) —
    * beyond that, drop to scale 9 (p62) for 9M members. */
  def kmeansFit(vecs: DataFrame, k: Int, iters: Int = 2): Seq[Seq[Double]] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    def toD(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Float](0).map(_.toDouble)
    var cents: Seq[Seq[Double]] = vecs.orderBy(col("id")).limit(k)
      .select(col("vec")).collect().toSeq.map(toD)
    require(cents.nonEmpty, "no seed vectors")
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("cid", element_at(
        graft.functions.native.nearest_centroids(col("vec"), cents, 1), 1))
      val means = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg((sum(col("x").cast(DoubleType).cast(DecimalType(26, 11)))
          .cast(DoubleType) / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // empty clusters keep their previous centroid
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dims with a
    * HASH-DERIVED sign matrix: entry s(i, j) ∈ {+1, −1} comes from two
    * rounds of integer poly-hash mixing of (input dim i, output dim j,
    * seed) — the projection matrix never materializes anywhere (no
    * broadcast, no file): every executor, every retry, and the SQL
    * oracle regenerate the identical matrix from the arithmetic. The
    * standard dense-sign JL construction (Achlioptas 2003 shows ±1
    * entries satisfy the JL lemma with the same guarantees as
    * Gaussians); output dim j = (Σ_i v[i]·s(i,j)) / √outDim, the fold
    * left-to-right over i — a fixed IEEE sequence, repartition-
    * invariant and engine-replayable. Per-row and shuffle-free inside
    * whole-stage codegen: the 100 TB shape is scan → project, with the
    * projected column ~dim/outDim× smaller riding every downstream
    * shuffle (the cheap precursor to ANN indexing, the p68 audit's
    * complement). */
  def randomProject(vec: Column, outDim: Int, seed: Long = 0L): Column = {
    require(outDim >= 1, "outDim >= 1")
    // Round-13: native tight-loop spelling ([[graft.functions
    // .RandomProject]]). The original HOF form — transform(sequence,
    // j => aggregate(sequence, 0.0, (acc,i) => acc + vec[i]·sign(i,j)))
    // with sign(i,j) = parity of ((i·1000003+j·7919+seed) mod 2³¹−1)
    // squared-plus-itself mod 2³¹−1 — paid per-ELEMENT interpreted
    // Catalyst lambda evaluation (outDim·dim tree walks per row; the
    // whole of p73's per-row cost). The native expression runs the
    // identical integer arithmetic and the identical left-to-right
    // IEEE double fold, so results are bit-equal (spec-pinned) and the
    // p73 oracle is unchanged.
    graft.functions.native.random_project(vec, outDim, seed)
  }

  /** SemDeDup proper (Abbas et al. 2023): k-means clusters the
    * embedding space, near-duplicate search runs WITHIN clusters only,
    * connected components + canonical keeper collapse the duplicates.
    * This is the composition that makes embedding dedup tractable at
    * corpus scale — the pair search drops from O(n²) cosine evals to
    * Σ|cluster|², and with k ∝ n (fixed target cluster size) that is
    * O(n·target): linear in the corpus. The price is the SemDeDup
    * approximation — near-dups split across a cluster boundary are
    * missed — which is exactly why the gate's oracle replays the SAME
    * clustering (bit-exact [[kmeansFit]]) rather than comparing against
    * global exact pairs.
    *
    * Plan shape: training (iters bounded passes) → one shuffle-free
    * assignment pass → self-equi-join on the cluster key (ONE corpus
    * shuffle; bounded by the k ∝ n cluster-size target, the skew
    * analogue of LshJoin's bucket cap) → component fold over pair rows
    * only. Vectors ride the pair join once; at 100 TB the join input
    * is (cluster, id, vec) — nothing else shuffles.
    *
    * Returns (id, kcluster, comp, comp_size, keep): kcluster = the
    * k-means cluster index (0-based seed order), comp = connected-
    * component canonical id over the ≥ tau pairs, keep = id == comp. */
  def semDedup(vecs: DataFrame, k: Int, tau: Double,
      iters: Int = 2): DataFrame = {
    val cents = kmeansFit(vecs, k, iters)
    val assigned = vecs.select(col("id"), col("vec"),
      element_at(
        graft.functions.native.nearest_centroids(col("vec"), cents, 1), 1)
        .as("kcluster"))
    val a = assigned.select(col("kcluster"), col("id").as("id_a"),
      col("vec").as("va"))
    val b = assigned.select(col("kcluster"), col("id").as("id_b"),
      col("vec").as("vb"))
    val pairs = a.join(b, Seq("kcluster"))
      .filter(col("id_a") < col("id_b") &&
        cosine(col("va"), col("vb")) >= tau)
      .select(col("id_a"), col("id_b"))
    val comps = graft.operators.ClusterOps.dedupClusters(
      vecs, "id", pairs, "id_a", "id_b")
    assigned.select(col("id").cast("long").as("doc_id"), col("kcluster"))
      .join(comps, Seq("doc_id"))
      .select(col("doc_id").as("id"), col("kcluster"), col("comp"),
        col("cluster_size").as("comp_size"), col("keep"))
  }
}
