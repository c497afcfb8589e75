package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR at
  * local[32], one JSON line on stdout (driver contract).
  *
  * The headline set covers each operator family once — scan+agg,
  * filter, multi-join, window, top-k, connector round-trip, dedup LSH,
  * ANN top-k, multimodal — and excludes the deliberately-O(n²)
  * brute-force baselines (those exist for oracle verification, not
  * throughput; ngramJaccardPairs documents "never run this at scale").
  *
  * Output JSON (one line):
  *   - "queries": per-query MEDIAN seconds (noise-resistant headline)
  *   - "times":   per-query array of EVERY rep's seconds — medians can
  *     hide a single-rep anomaly (round-4's p16 taught that); with the
  *     raw reps in the artifact, variance is visible without a rerun
  *   - a query whose reps ALL fail is omitted from "queries"/"value"
  *     and listed in "failed" — a regressing-to-failure query must not
  *     make the suite look faster (it used to contribute 0.0 to total)
  *   - "sf1": optional 10×-scale pass (per-query times + "scale"
  *     ratios vs the sf0.1 medians) when the stress fixture exists —
  *     scaling regressions (accidental quadratics) are invisible at
  *     one scale factor; round 4 caught p10's only via a manual run,
  *     this makes the driver catch them every round
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_agg", "q02_filter_agg", "q03_join_topk", "q04_window",
    "q05_topk", "q11_rollup", "q15_events_day", "q17_join6",
    "q28_rangejoin_auto", "q29_streamjoin", "q30_topk_per_key",
    "q33_pivot", "q36_bucketed_join", "q38_json", "q40_window_funcs",
    "r01_remote_filter", "r04_remote_partitioned_agg",
    "r06_remote_join_pushdown", "r09_remote_groupby", "r15_remote_distinct",
    "r16_remote_upsert", "r17_remote_delete", "r18_remote_sample",
    "r19_remote_fn_filter", "r20_schema_evolution",
    "p01_text_stats", "p02_exact_dedup", "p05_minhash_lsh",
    "p07_simhash", "p31_simhash_wide", "p08_knn", "p10_embed_lsh",
    "p24_embed_lsh_adaptive",
    "p11_ivf_knn",
    "p14_dedup_cluster", "p15_stratified_sample", "p16_quality_pipeline",
    "p17_fuzzy_pairs", "p18_repetition", "p19_pii", "p20_decontam",
    "p21_packing", "p22_unigram_lm", "p23_quantize", "p25_chunking",
    "p26_tfidf", "p27_ivf_pq", "p33_ivf_pq_probe", "p34_ann_incremental",
    "p29_source_quota", "p30_incremental_dedup", "p35_incremental_exact",
    "p36_repeated_spans", "p37_ingest_admission",
    "p38_mixture_sample", "p39_epoch_shuffle", "p40_bigram_lm",
    "p41_diversity_sample", "p42_span_removal", "p43_mixture_epochs",
    "p44_corpus_card", "p45_snapshot_diff", "p46_quality_threshold",
    "p47_vocab_coverage", "p48_split_leakage",
    "p49_domain_block", "p50_url_dedup", "p51_bm25_topk",
    "p52_rank_fusion", "p53_unicode_dedup", "p54_heavy_hitters",
    "p55_incremental_reingest", "p56_semantic_decontam",
    "p57_dsir_importance", "p58_curation_pipeline",
    "m01_multimodal", "m02_frame_sample", "m03_resize", "m04_audio",
    "m05_image_phash", "m06_audio_phash", "m07_scene_detect",
    "m08_video_neardup", "m09_audio_quality", "m10_image_quality",
    "m11_asset_integrity", "m12_pair_audit",
    "q44_range_window", "q45_streamjoin_outer", "q46_hll_merge",
    "q47_listagg", "q48_grouping_sets", "q49_stats_agg", "q50_gapfill",
    "q51_recursive", "q52_variant",
    "q53_sliding_window", "q54_array_fns", "q55_bitwise", "q56_funnel",
    "r21_remote_view", "p59_hash_classifier", "p60_source_overlap",
    "p61_chunk_dedup", "p62_centroid_card", "p63_centroid_drift",
    "p64_classifier_calibration", "m13_image_dedup_cluster",
    "q57_zorder", "q58_session_window",
    "p65_pagerank", "p66_incremental_components", "m14_audio_neardup",
    "r22_remote_union", "q59_udaf_gcd", "q60_typed_flatmap",
    "p67_personalized_pagerank", "p68_matryoshka_recall",
    "p69_setsim_join", "p70_token_budget", "p71_blocklist",
    "p72_kmeans_semdedup", "p73_random_projection", "p74_cdc_chunks",
    "p75_quality_drift", "m15_crossmodal_dup", "p76_winnowing",
    "p77_annealing_mixture", "m16_letterbox", "m17_silence_trim",
    "p78_unseen_mass", "p79_threshold_sweep", "m18_video_letterbox",
    "p80_quality_mixture", "p81_bpe_train", "p82_bpe_segment",
    "p83_containment_join", "p84_bpe_fertility",
    "p85_containment_screen", "p86_bpe_batched",
    "p87_containment_incremental", "p88_bpe_deep",
    "p89_screen_pipeline",
    // Round-14 (VERDICT r13 item 2): the >1 s oracle-only gates were
    // invisible to the bench — p28 (~7 s, the most expensive declared
    // path) plus the heavy tail of a full 58-gate probe of everything
    // declared-but-not-benched (q26 6.7 s, q27 ~5 s, q35 3.5 s, q31
    // ~3 s, q32 1.7 s, q42 1.3 s, q25 1.1 s steady-state at sf0.1).
    // Additions only; the O(n²)-by-design oracle baselines (p06 198 s,
    // p09 7 s) stay excluded exactly as the header documents, and
    // r23's 23 s first-touch is DuckDB fixture setup (0.24 s steady),
    // not a Spark path.
    "p28_semantic_dedup", "q25_cube", "q26_approx", "q27_percentile",
    "q31_salted_join", "q32_asof_bucketed", "q35_approx_percentile",
    "q42_setops_all")

  /** Fixture-scale exact-oracle configs that are quadratic BY DESIGN
    * (documented in VectorOps/DedupOps) — excluded from any run above
    * sf0.1, same set the round-4 manual stress run used.
    *
    * p27 joins p10 here (round-8): its gate deliberately keeps
    * train+re-quantize PER CALL as the self-contained comparison
    * point (documented anti-pattern; 6.8× at sf1 and the suite's most
    * variance-prone line item), while p33 — the prebuilt-index probe,
    * the actual 100 TB path — stays in the sf1 pass and scales ~2.4×. */
  val scaleExcluded: Set[String] = Set("p10_embed_lsh", "p27_ivf_pq")

  /** sf1 pass restriction (round-8, VERDICT r7 item 8): the full
    * 110-query × 3-rep × 2-SF protocol is ~19 min of wall-clock, most
    * of it re-measuring queries that scale linearly every round. The
    * sf1 pass now defaults to the HEAVY set — every query that has
    * EVER measured above 2× for 10× data in a recorded round (sources:
    * BENCH_LOCAL r7 scale map, round-6 advisory rows) — plus the
    * current round's new gates (no scale history yet; prune next round
    * if they land ≤2×). `SPARK_GRAFT_SF1_FULL=1` restores the full
    * set for calibration runs. */
  val sf1Heavy: Set[String] = Set(
    // ≥2× in BENCH_LOCAL r7
    "p60_source_overlap", "p30_incremental_dedup", "p24_embed_lsh_adaptive",
    "q36_bucketed_join", "q58_session_window", "p35_incremental_exact",
    "p05_minhash_lsh", "p56_semantic_decontam", "p07_simhash",
    "p20_decontam", "p11_ivf_knn", "q38_json", "p21_packing",
    "p34_ann_incremental", "p25_chunking", "q01_agg", "r09_remote_groupby",
    "p17_fuzzy_pairs", "r15_remote_distinct", "m07_scene_detect",
    "p22_unigram_lm", "q48_grouping_sets", "p54_heavy_hitters",
    "m06_audio_phash", "p26_tfidf", "q11_rollup", "r19_remote_fn_filter",
    "p33_ivf_pq_probe", "p53_unicode_dedup", "p37_ingest_admission",
    "p64_classifier_calibration", "p18_repetition", "p16_quality_pipeline",
    "p55_incremental_reingest", "r18_remote_sample", "p38_mixture_sample",
    "q17_join6", "p02_exact_dedup", "p23_quantize",
    // permanent citizens (round-9, VERDICT r8 item 4): everything that
    // shuffles candidate pairs or iterates stays in the sf1 pass FOREVER
    // regardless of its last linear-looking ratio — m13 shared m14's
    // quadratic machinery and dropped out of the one pass that would
    // have caught it; the "looked linear once, prune" protocol was the
    // blind spot, not the fix
    "m13_image_dedup_cluster", "m08_video_neardup", "p61_chunk_dedup",
    "p14_dedup_cluster", "p65_pagerank", "p66_incremental_components",
    "p67_personalized_pagerank", "m14_audio_neardup",
    // round-8 ratios that earned a keep (q59 2.6×); q60 (0.88×) and
    // p68 (1.5×) pruned per the heavy-set's own protocol
    "r22_remote_union", "q59_udaf_gcd",
    // round-9 new gates: p69 shuffles candidate pairs (permanent
    // citizen); p70/p71 get their one round of scale history
    "p69_setsim_join", "p70_token_budget", "p71_blocklist",
    // round-10: p72 and m15 shuffle candidate pairs (permanent
    // citizens); p73–p79/m16/m17 get their one round of scale history
    "p72_kmeans_semdedup", "p73_random_projection", "p74_cdc_chunks",
    "p75_quality_drift", "m15_crossmodal_dup", "p76_winnowing",
    "p77_annealing_mixture", "m16_letterbox", "m17_silence_trim",
    "p78_unseen_mass", "p79_threshold_sweep", "m18_video_letterbox",
    "p80_quality_mixture",
    // round-11: BPE training/application are iterative (8 argmax jobs
    // over the word table) — one round of scale history
    "p81_bpe_train", "p82_bpe_segment",
    // round-11: containment join shuffles candidate pairs — permanent
    // heavy-set citizen like p69/p72; fertility gets one round
    "p83_containment_join", "p84_bpe_fertility",
    // round-12: the containment SCREEN shuffles candidate pairs too
    // (permanent citizen — it exists to be compared against p83 at
    // scale); batched BPE is iterative, one round of history; the
    // incremental screen shuffles candidate pairs (permanent)
    "p85_containment_screen", "p86_bpe_batched",
    "p87_containment_incremental", "p88_bpe_deep",
    "p89_screen_pipeline",
    // round-10 protocol change: these two were count()-ELIMINATED in
    // every prior round's bench (their numbers measured a parquet
    // count); now that the action executes the full plan they get
    // their first real scale history (focused sf1: both ~1.0x flat)
    "p36_repeated_spans", "p42_span_removal",
    // round-14 bench additions: p28 iterates (CC loop — permanent
    // citizen per the round-9 protocol); the rest get their one round
    // of scale history
    "p28_semantic_dedup", "q25_cube", "q26_approx", "q27_percentile",
    "q31_salted_join", "q32_asof_bucketed", "q35_approx_percentile",
    "q42_setops_all")

  /** Execute a gate's FULL plan (round-10 PROTOCOL CHANGE — the bench
    * action). The previous action, `df.count()`, let Catalyst prove
    * for some gate shapes that the pipeline cannot change the row
    * count and ELIMINATE it: a left join on unique aggregate keys
    * preserves cardinality, so p36/p42/q14/p79-shaped tails collapsed
    * to a bare corpus count — those gates' recorded numbers measured a
    * parquet count, not the operator (found by a round-10
    * stage-listener audit: p79's "count" ran 3 trivial stages while
    * the same operator computed bare took 4.4 s). `toRdd.count()`
    * executes the DataFrame's own physical plan — every projection,
    * join, and the final sort — i.e. the cost of actually PRODUCING
    * the result rows a consumer would read. Side effect on unaffected
    * gates: the final orderBy (previously elided under count) is now
    * timed too; output row sets are small, so the shift is bounded —
    * the round-10 SCALE.md row carries the before/after. */
  private def execFull(df: org.apache.spark.sql.DataFrame): Long = {
    val t0 = System.nanoTime()
    val n = df.queryExecution.toRdd.count()
    // toRdd.count bypasses Dataset.withAction, so QueryExecution-
    // listeners (Observation completion) must fire explicitly or
    // ObsRegistry.drain() below comes back empty (round-12 fix)
    org.apache.spark.sql.graftbridge.Bridge.fireObservations(
      df, "benchCount", System.nanoTime() - t0)
    n
  }

  private def fmtJsonNum(v: Double): String = {
    // fixed decimal, no scientific notation (driver-side json parsers)
    "%.4f".formatLocal(java.util.Locale.ROOT, v)
  }

  /** Residue after a query: persisted RDD count + MB, live broadcast
    * count, registered shuffle count, total storage-memory MB. Residue
    * growing across the run order was the mechanism behind round-4's
    * p16 anomaly (checkpoint blocks) and the suspect for round-5's p27
    * (broadcasts); the probe covers every GC-driven cleanup category so
    * a recurrence is attributable from stderr alone. */
  private def storageResidue(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    val mb = infos.map(_.memSize).sum / (1024.0 * 1024.0)
    val bc = org.apache.spark.sql.graftbridge.Bridge.liveBroadcastIds(sc).size
    val sh = org.apache.spark.sql.graftbridge.Bridge.liveShuffleIds(sc).size
    val smb = org.apache.spark.sql.graftbridge.Bridge.storageMemoryUsed(sc) /
      (1024.0 * 1024.0)
    f"${infos.length} rdds ${mb}%.0fMB, $bc bc, $sh sh, storage $smb%.0fMB"
  }

  /** Time each query `reps` times in-process; returns every successful
    * rep's seconds (possibly empty if all reps failed). */
  private def runSuite(
      spark: SparkSession, names: Seq[String], sfDir: String, reps: Int,
      tag: String, errors: collection.mutable.ListBuffer[String])
      : Seq[(String, Seq[Double])] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      // residue recorded PER REP (round-9, VERDICT r8 item 3): a
      // monotonically-rising rep sequence (p55's sf1 [1.16/1.81/2.18])
      // is only attributable if the residue is sampled between reps,
      // not once after the last one
      val perRep = collection.mutable.ListBuffer.empty[String]
      val times = (1 to reps).flatMap { _ =>
        // q28/r06 legitimately set session confs their own execution
        // needs (optimizer rewrites fire at execution, not build);
        // reset them BEFORE each rep so no rep times under another's
        // leaked confs — and sweep ALL residual execution state
        // (cache, checkpoint blocks, broadcasts, shuffles) so no rep
        // times under another's residue or its deferred cleanup storm
        SparkEntry.resetSessionConfs(spark)
        // heap compaction outside the timed window: measured (round 5),
        // old-gen-heavy driver state inflates single-shot timings 2-4x
        System.gc()
        val t0 = System.nanoTime()
        // a failed query must be VISIBLE, not a fast fake timing
        val r =
          try { execFull(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
          catch {
            case e: Throwable =>
              errors += s"$tag$name: ${e.getClass.getSimpleName}"
              System.err.println(s"[bench] $tag$name FAILED: $e")
              None
          }
        perRep += storageResidue(spark)
        // skew-guard / operator observations registered by this query
        // (m14's bucket evidence): print with the rep they belong to
        ObsRegistry.drain().foreach { case (on, m) =>
          val kv = m.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(", ")
          System.err.println(s"[bench] $tag$name obs($on): $kv")
        }
        r
      }
      val shown = times.map(t => f"$t%.2f").mkString("/")
      System.err.println(
        s"[bench] $tag$name: [$shown]s (${times.size}/$reps reps)")
      perRep.zipWithIndex.foreach { case (rz, i) =>
        System.err.println(s"[bench] $tag$name residue rep${i + 1}: $rz") }
      name -> (times: Seq[Double])
    }

  private def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)

  /** The previous round's sf0.1 medians, parsed from the newest driver
    * artifact (`BENCH_r*.json`). The driver wraps the bench line in an
    * escaped `"tail"` capture, so unescape before extracting the LAST
    * `"queries"` map (field order puts the sf0.1 medians last exactly
    * so tail-capture keeps them). Used for the `common_vs_prev` key
    * (round-9, VERDICT r8 item 9): the suite total grows by gate
    * addition every round, so the artifact itself must carry the
    * like-for-like regression signal. */
  private def prevRoundMedians(): Option[(String, Map[String, Double])] = {
    val files = Option(new java.io.File("/root/repo").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(_.getName)
    files.lastOption.flatMap { f =>
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8).replace("\\\"", "\"")
        val v = txt.lastIndexOf("\"value\":")
        val i = txt.lastIndexOf("\"queries\":{")
        // the driver keeps only the LAST ~2k chars of the bench line, so
        // the capture usually starts INSIDE the final medians map with
        // the "queries" marker cut off. The medians are the only
        // name:number map adjacent to "value" (field order is designed
        // for exactly this), so the segment before "value" is safe to
        // regex; a name truncated by the cut can't collide with a real
        // query name (none is a suffix of another) and falls out of the
        // common-subset intersection anyway.
        val seg =
          if (i >= 0 && v > i) Some(txt.substring(i + 10, v))
          else if (v > 0) Some(txt.substring(0, v))
          else None
        val m = seg.map("\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(_)
          .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap)
          .getOrElse(Map.empty)
        if (m.isEmpty) None else Some((f.getName, m))
      } catch { case _: Throwable => None }
    }
  }

  private def queriesJson(rs: Seq[(String, Seq[Double])]): String =
    rs.collect { case (k, ts) if ts.nonEmpty =>
      "\"" + k + "\":" + fmtJsonNum(median(ts)) }.mkString("{", ",", "}")

  private def timesJson(rs: Seq[(String, Seq[Double])]): String =
    rs.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(fmtJsonNum).mkString("[", ",", "]")
    }.mkString("{", ",", "}")

  /** Run the sf1 stress pass in a fresh child JVM (same java binary,
    * same JVM args, same classpath — the ScanCodecForkSpec pattern),
    * restricted via SPARK_GRAFT_SUBSET to the stress set. Returns the
    * per-query rep arrays parsed from the child's artifact line, or
    * None on any failure (caller falls back to the in-process pass).
    * The child performs its own sf0.001 warmup and sf1 fixture
    * ensure()s; its "[bench]"-tagged stderr is forwarded with an
    * "[sf1-child]" prefix so skew observations and residue lines still
    * land in the round log. */
  private def forkSf1(sf1Dir: String, names: Seq[String], reps1: Int)
      : Option[Seq[(String, Seq[Double])]] = {
    if (names.isEmpty) return None
    try {
      import scala.jdk.CollectionConverters._
      // Derby allows ONE booting JVM per database directory: the child
      // re-runs the sf0.001 warmup (and its own sf1 ensure), so the
      // parent must hand its embedded engines over first — drain the
      // pools, then shut the whole Derby engine down (the
      // ScanCodecForkSpec handoff). The parent's timed passes are
      // complete by this point; anything it still needs re-boots.
      graft.sources.GraftConnectionPool.drainAll()
      try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
      catch { case _: java.sql.SQLException => () /* XJ015 = success */ }
      val javaBin = java.nio.file.Paths
        .get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("-agentlib")) // no debugger port clashes
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      val env = pb.environment()
      env.put("SPARK_GRAFT_SF_DIR", sf1Dir)
      env.put("SPARK_GRAFT_SF1", "0") // no nested stress pass
      env.put("SPARK_GRAFT_SUBSET", names.mkString(","))
      env.put("SPARK_GRAFT_REPS", reps1.toString)
      val t0 = System.nanoTime()
      val p = pb.start()
      val errThread = new Thread(() => {
        val src = scala.io.Source.fromInputStream(p.getErrorStream)
        try src.getLines().foreach { l =>
          if (l.contains("[bench]"))
            System.err.println(s"[sf1-child] ${l.replace("[bench] ", "")}")
        } finally src.close()
      })
      errThread.setDaemon(true)
      errThread.start()
      // stdout drains on its own thread so the waitFor timeout below
      // really bounds a hung child (a blocking read here would not)
      val outBuf = new java.lang.StringBuilder
      val outThread = new Thread(() => {
        val src = scala.io.Source.fromInputStream(p.getInputStream)
        try src.getLines().foreach(l =>
          outBuf.synchronized { outBuf.append(l).append('\n') })
        finally src.close()
      })
      outThread.setDaemon(true)
      outThread.start()
      val rc =
        if (p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)) p.exitValue()
        else { p.destroyForcibly(); -1 }
      outThread.join(10000)
      System.err.println(f"[bench] sf1 child JVM: rc=$rc, " +
        f"${(System.nanoTime() - t0) / 1e9}%.0f s wall")
      val line = outBuf.synchronized { outBuf.toString }.linesIterator
        .toSeq.reverseIterator.find(_.startsWith("{\"metric\""))
      // rc != 0 with an artifact line = some child queries failed all
      // reps; keep the times (empty arrays mark the failures)
      val timesRe = "\"times\":\\{([^}]*)\\}".r
      val entRe = "\"([A-Za-z0-9_]+)\":\\[([0-9.,]*)\\]".r
      line.flatMap(l => timesRe.findFirstMatchIn(l)).map { m =>
        val byName = entRe.findAllMatchIn(m.group(1)).map { e =>
          e.group(1) -> e.group(2).split(',').filter(_.nonEmpty)
            .map(_.toDouble).toSeq
        }.toMap
        names.map(n => n -> byName.getOrElse(n, Seq.empty))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] sf1 child JVM failed ($e); " +
          "falling back to the in-process pass")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_EXCLUDE: comma-separated query names to skip — used
    // by stress runs above fixture scale, where the oracle-strength
    // configurations (sized for exact-recall on the fixtures, e.g.
    // p10's 4x24 LSH) are quadratic BY DESIGN like p06/p09
    val exclude = sys.env.getOrElse("SPARK_GRAFT_EXCLUDE", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // SPARK_GRAFT_SUBSET: the forked sf1 pass re-invokes this main in a
    // child JVM restricted to the stress set (see forkSf1)
    val subset = sys.env.getOrElse("SPARK_GRAFT_SUBSET", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val isChild = subset.nonEmpty
    val active = {
      val a = headline.filterNot(exclude)
      if (isChild) a.filter(subset) else a
    }
    if (exclude.nonEmpty)
      System.err.println(s"[bench] excluded: ${exclude.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Round-13 (guide §2.2/§2.4): let AQE re-coalesce CACHED plan
      // output. Spark's default (false) freezes every `.persist()`ed
      // build at the raw shuffle partition count, so iterative
      // operators over cached state (BPE's word table, the containment
      // sets, banded hash groups) schedule `shuffle.partitions` tiny
      // tasks per round regardless of data size — measured sf0.1:
      // p88 875→100 tasks (6.3→3.1 s), p86 743→92, m13 671→49
      // (5.1→2.8 s), m14 360→18, m15 363→21, with zero result change
      // (all gates are partition-invariant by construction; the full
      // oracle sweep re-verifies). Scale-independent: at 100 TB the
      // same conf sizes cached partitions to the actual bytes instead
      // of whatever the session's shuffle.partitions happened to be.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up protocol: run the FULL headline set once against the tiny
    // sf0.001 fixture so JIT, classloading, codegen compilation and the
    // first-touch of every operator's machinery land outside the timed
    // window — "warm code, cold data". BASELINE.md records numbers under
    // this same protocol, so driver runs and the baseline are comparable.
    val warmDir = "/root/testdata/sf0.001"
    active.foreach { name =>
      // reset leaked confs here too (q28/r06 set theirs during execution):
      // warmup must compile the SAME plans the timed loop compiles
      SparkEntry.resetSessionConfs(spark)
      try execFull(SparkEntry.queries(name)(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: $e") }
    }
    // observations registered by warmup runs must not masquerade as the
    // first timed query's evidence
    ObsRegistry.drain()
    // the Derby "remote DB" fixture is one-time setup (the analogue of
    // standing up the remote database), not query execution — build it
    // outside the timed window; ConnectorBench times the insert path.
    try RemoteQueries.ensure(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] remote fixture setup failed: $e") }
    // bucketed-layout fixture: the "nightly bucketed write" happens
    // once, outside the timed window — q36 times the co-located join
    try BucketedTables.ensure(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] bucketed fixture setup failed: $e") }
    // IVF-PQ index fixture: the "nightly ANN index build" happens once,
    // outside the timed window — p33/p34 time the probe-only path
    // (p27, which builds per call, stays timed as the self-contained
    // comparison point)
    try { IvfIndex.ensureFull(spark, sfDir); IvfIndex.ensureHist(spark, sfDir) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] ivf index fixture setup failed: $e") }
    // Noise immunity: time each query REPS times in-process and report
    // the per-query MEDIAN. A single-shot timing conflates the query
    // with whatever the machine was doing that second (observed: 1.8×
    // total swings under background load); the median of 3+ strips the
    // outlier without hiding a real regression.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val errors = collection.mutable.ListBuffer.empty[String]
    val results = runSuite(spark, active, sfDir, reps, "", errors)
    val ok = results.filter(_._2.nonEmpty)
    val failed = results.collect { case (k, ts) if ts.isEmpty => k }
    val total = ok.map { case (_, ts) => median(ts) }.sum

    // ---- optional 10× stress pass (verdict r4 task: promote sf1 to
    // the per-round protocol). Runs when the MakeSf1 fixture exists
    // (SPARK_GRAFT_SF1_DIR overrides; SPARK_GRAFT_SF1=0 disables).
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", {
      val candidates = Seq("/root/repo/sf1", "/tmp/graft_sf1")
      candidates.find(d => new java.io.File(d, "lineitem.parquet").isDirectory)
        .getOrElse("")
    })
    val sf1Enabled = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0" &&
      sf1Dir.nonEmpty && new java.io.File(sf1Dir).isDirectory
    val sf1Json =
      if (!sf1Enabled) ""
      else {
        val sf1Full = sys.env.getOrElse("SPARK_GRAFT_SF1_FULL", "0") == "1"
        System.err.println(s"[bench] sf1 stress pass: $sf1Dir" +
          (if (sf1Full) " (full set)" else
            s" (heavy set, ${sf1Heavy.size} candidates; " +
              "SPARK_GRAFT_SF1_FULL=1 for all)"))
        val sf1Active = active.filterNot(scaleExcluded)
          .filter(n => sf1Full || sf1Heavy(n))
        // 5 reps at sf1 (vs 3 at sf0.1): several sf1 queries show
        // bimodal reps even in the isolated child (p05 [5.9/1.8/5.9]
        // round 9) — a median of 5 is robust to two spikes where a
        // median of 3 flips on one
        val reps1 = sys.env.getOrElse("SPARK_GRAFT_SF1_REPS", "5").toInt
        // The stress pass runs in a FRESH child JVM by default
        // (round-9): sf1 medians produced in-process after the full
        // sf0.1 suite carry up to 6× accumulated-JVM-state inflation
        // (measured: p05 sf1 [10.0/10.3/4.8] after the sf0.1 front
        // suite, [1.6/5.1/1.4] after an sf0.001 front, 1.1 s median
        // focused-idle) — old-gen debt the per-rep System.gc()
        // demonstrably does not clear. Per-pass process isolation is
        // the JMH discipline; the child re-runs the same warmup
        // protocol and prints the standard artifact line, and its
        // times are lifted verbatim. SPARK_GRAFT_SF1_FORK=0 restores
        // the in-process pass (also the automatic fallback).
        val forked =
          if (sys.env.getOrElse("SPARK_GRAFT_SF1_FORK", "1") == "1")
            forkSf1(sf1Dir, sf1Active, reps1)
          else None
        forked.foreach(_.collect { case (k, ts) if ts.isEmpty =>
          errors += s"sf1:$k: failed in child" })
        val rs1 = forked.getOrElse {
          try RemoteQueries.ensure(spark, sf1Dir)
          catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 remote fixture setup failed: $e") }
          try BucketedTables.ensure(spark, sf1Dir)
          catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 bucketed fixture setup failed: $e") }
          try { IvfIndex.ensureFull(spark, sf1Dir); IvfIndex.ensureHist(spark, sf1Dir) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 ivf index fixture setup failed: $e") }
          // start the stress pass from a collected heap: measured, the
          // sf1 numbers run 2-4× inflated when timed single-shot in the
          // old-gen-heavy JVM state the full sf0.1 suite leaves behind
          // (p16 4.6 s vs 0.66 s in a focused run); 3-rep medians +
          // a pre-pass collection strip that artifact
          System.gc()
          runSuite(spark, sf1Active, sf1Dir, reps1, "sf1:", errors)
        }
        val ok1 = rs1.filter(_._2.nonEmpty)
        val total1 = ok1.map { case (_, ts) => median(ts) }.sum
        // scale ratio: sf1 time / sf0.1 median — 10× data should be
        // ≤ ~10×; a ratio far above that flags a super-linear path
        val sf01 = ok.toMap
        val scale = ok1.flatMap { case (k, ts) =>
          sf01.get(k).filter(_.nonEmpty).map { base =>
            "\"" + k + "\":" + fmtJsonNum(median(ts) / math.max(median(base), 1e-3))
          }
        }.mkString("{", ",", "}")
        val excl = scaleExcluded.toSeq.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","sf1":{"dir":"$sf1Dir","total":${fmtJsonNum(total1)},"reps":$reps1,"forked":${forked.nonEmpty},"queries":${queriesJson(rs1)},"times":${timesJson(rs1)},"excluded":$excl},"scale":$scale"""
      }

    // like-for-like vs the previous round's driver artifact: totals over
    // the common query subset only, so gate additions don't read as
    // regressions and removals don't read as wins (skipped in the
    // forked child: its subset run is not a round artifact)
    val commonJson = (if (isChild) None else prevRoundMedians()).map { case (fname, prev) =>
      val cur = ok.map { case (k, ts) => k -> median(ts) }.toMap
      val common = cur.keySet.intersect(prev.keySet).toSeq.sorted
      val curT = common.map(cur).sum
      val prevT = common.map(prev).sum
      System.err.println(f"[bench] common vs $fname: ${common.size} queries, " +
        f"$curT%.1f s now vs $prevT%.1f s then (${curT / math.max(prevT, 1e-9)}%.2fx)")
      s""","common_vs_prev":{"prev":"$fname","common_n":${common.size},"prev_total":${fmtJsonNum(prevT)},"cur_total":${fmtJsonNum(curT)},"ratio":${fmtJsonNum(curT / math.max(prevT, 1e-9))}}"""
    }.getOrElse("")
    val errJson = errors
      .map(e => "\"" + e.replace("\"", "'") + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Field order is deliberate: the driver's capture kept only the TAIL
    // of the round-5 artifact, losing "value" and 28 queries' medians
    // from the head. Big diagnostic payloads ("times", "sf1") go FIRST;
    // the headline summary ("queries" medians, "value" total) goes LAST,
    // so tail-capture of any length keeps the most important fields.
    val line = s"""{"metric":"total","unit":"sec","action":"toRdd.count","sf":"$sfDir","reps":$reps,"times":${timesJson(results)}$sf1Json$commonJson,"failed":$failedJson,"errors":$errJson,"queries":${queriesJson(ok)},"value":${fmtJsonNum(total)}}"""
    // ... and the whole artifact also lands in a file the driver (or a
    // human) can pick up intact regardless of stdout capture limits.
    // The forked sf1 child must NOT clobber the round artifact with
    // its subset run — its line travels back over stdout only.
    if (!isChild) try {
      val p = java.nio.file.Paths.get("/root/repo/BENCH_LOCAL.json")
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full artifact written to $p")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact file write failed: $e") }
    println(line)
    // Round-14 (VERDICT r13 item 1): every BENCH_r*.json since round 1
    // carries "parsed": null — the driver's artifact keeps only the
    // LAST ~2000 chars of the log, and the round-13 compact marker
    // line still inlined the full per-query map (~5 KB for 143 gates),
    // so its head (the marker prefix included) was clipped out of the
    // capture window. The fixed contract:
    //   - GRAFT_BENCH_JSON <headline-only JSON> — value, n, reps,
    //     failed, chunk count; ~200 bytes, guaranteed to fit whole
    //     inside ANY tail window. Printed BEFORE and AFTER the chunk
    //     lines (identical bytes): a head-anchored grep finds the
    //     first, a tail-window capture always retains the last.
    //   - GRAFT_BENCH_Q<i> {…} — the per-query medians in numbered
    //     ≤1.4 KB chunks a parser can reassemble in any order; the
    //     headline's "chunks" count makes a partial capture
    //     detectable.
    if (!isChild) {
      val entries = ok.collect { case (k, ts) if ts.nonEmpty =>
        "\"" + k + "\":" + fmtJsonNum(median(ts)) }
      val chunks = {
        val buf = collection.mutable.ListBuffer.empty[String]
        val cur = new StringBuilder
        entries.foreach { e =>
          if (cur.nonEmpty && cur.length + e.length + 1 > 1400) {
            buf += cur.toString; cur.clear()
          }
          if (cur.nonEmpty) cur.append(',')
          cur.append(e)
        }
        if (cur.nonEmpty) buf += cur.toString
        buf.toList
      }
      val headlineJson = s"""{"metric":"total","unit":"sec","sf":"$sfDir","reps":$reps,"n":${entries.size},"chunks":${chunks.size},"failed":$failedJson,"value":${fmtJsonNum(total)}}"""
      println(s"GRAFT_BENCH_JSON $headlineJson")
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"GRAFT_BENCH_Q${i + 1} {$c}") }
      println(s"GRAFT_BENCH_JSON $headlineJson")
      System.out.flush()
    }
    spark.stop()
    // A query whose reps ALL failed must fail the run's exit code too:
    // round 6's BENCH artifact recorded rc:0 with three q29 errors, and
    // exit-code automation read the failing run as success.
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
