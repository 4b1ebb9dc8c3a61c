package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sqlgen.{DuckDialect, Gen, SparkDialect}
import graft.operators.PcaSolve

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory behind each query key. */
object SparkEntry {
  // Spark rendering reads the wm chain from WmCache's materialized
  // views; the DuckDB oracle always renders the full inline chain.
  //
  // The Spark side derives its LSH plane count from the corpus size
  // (the §4 sizing formula, wired into the entrypoint): at the
  // verify/smoke SFs lshPlanesFor(N) floors at the static default, so
  // the rendering is IDENTICAL to the static oracle there — the
  // driver's sf0.01 hash compare is unaffected — while larger corpora
  // (the sf0.1 bench, any production dir) get right-sized buckets
  // instead of ever-fatter ones.
  private val sparkGens =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Gen]()
  private def sparkGenFor(s: SparkSession, dir: String): Gen = {
    val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
    // the doc-side analog: the SimHash band split widens once the
    // corpus outgrows the 5×12 geometry (~82k docs) — §4's band
    // ladder, wired into the entrypoint exactly like the plane count.
    // At the verify/smoke/bench SFs simhashBandsFor floors at the
    // static default, so the oracle renderings are unaffected.
    val bands = graft.sqlgen.Wm.simhashBandsFor(Tables.docCount(s, dir))
    // the L1 rung's AND-construction depth (r11): grows past ~45k
    // vectors, floors at the static default below
    val l1j = graft.sqlgen.Wm.l1HashesFor(Tables.vectorCount(s, dir))
    sparkGens.computeIfAbsent((planes, bands, l1j), { case (p, b, j) =>
      new Gen(SparkDialect, useViews = true, lshPlanes = p, simhashBands = b,
        l1Hashes = j) })
  }
  private lazy val sparkGen = new Gen(SparkDialect, useViews = true)
  private lazy val duckGen  = new Gen(DuckDialect)

  /** Flagship: watermark recall-impact pipeline (LSH buckets → kNN graph
    * → in-degree carrier selection → QIM embed → top-k recall overlap)
    * on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wm_recall_impact")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. The
    * programmatic (non-SQL-generated) entries run typed Dataset
    * pipelines; their oracle SQL lives next to the operator. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sparkGen.sqls.keys.map { name =>
      name -> ((s: SparkSession, dir: String) => {
        Tables.register(s, dir)
        val sql = sparkGenFor(s, dir).sql(name)
        if (WmCache.readBy(sql)) WmCache.ensure(s, dir)
        s.sql(sql)
      })
    }.toMap ++ programmatic

  /** Keys served by a PROGRAMMATIC entry (scratch tables, JVM driver
    * math, mapPartitions codecs) rather than the generated rendering —
    * tools (Plans) must go through `queries` for these even when a
    * generated template of the same name exists (e.g. wm_extract_ids'
    * generated text is the ORACLE shape; its Spark path substitutes
    * the scratch-persisted registry view). */
  def programmaticKeys: Set[String] = programmatic.keySet

  private lazy val programmatic: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      // HNSW maintenance pair: BOTH keys read the one scratch-persisted
      // beam-search product (appendLinksView) — the 3-hop beam is the
      // whole cost of either readout, and the compact key was
      // re-running the append key's beam inline (53.7 s of its 100×
      // serving leg; r10 verdict item 3). Oracles inline the chain.
      "vec_graph_append" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        s.sql(sparkGenFor(s, dir).graphAppendSql(Some(appendLinksView(s, dir))))
      }),
      "vec_graph_compact" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        s.sql(sparkGenFor(s, dir).graphCompactSql(Some(appendLinksView(s, dir))))
      }),
      // quantile sketches over the PERSISTED histogram artifact: the
      // inline mm/bn CTEs are multi-referenced and Catalyst re-inlines
      // per reference (~11 lineitem scans executed for the 128-bin
      // key — the r10 warm-gate drift's one real plan cause); the
      // artifact carries (bin, c, mn, mx, n) so the serving readout
      // pays ONE raw corpus scan (the exact in-bin selection pass)
      // plus ≤128-row view scans. Oracles inline everything.
      "sketch_quantiles" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_qhist", sparkGen.quantHistBuildSql)
        s.sql(sparkGen.sketchQuantilesSql(Some("g_qhist")))
      }),
      "sketch_quantile_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_qhist_curve", sparkGen.quantCurveHistBuildSql)
        s.sql(sparkGen.sketchQuantileCurveSql(Some("g_qhist_curve")))
      }),
      // per-type value quantiles over the PERSISTED per-group
      // histogram (the g_qhist split keyed per event type — r11
      // verdict item 3: the inline per-group plan executed 30 parquet
      // scans via mm/bn CTE re-inlining). One raw events scan remains
      // (the exact in-bin selection); oracles inline everything.
      "events_value_quantiles" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_evqhist", sparkGen.evQuantHistBuildSql)
        s.sql(sparkGen.eventsValueQuantilesSql(Some("g_evqhist")))
      }),
      // shingle-size curve over the PERSISTED (w, df, m) census: the
      // inline union chain's sh/df/dfc CTEs re-inline per reference
      // under Catalyst (the executed r11 plan ran 13 Window nodes /
      // 12 corpus scans — the heaviest text pass ~12×). The census
      // build is ONE 8-lead window pass with the 4 widths stack()ed
      // out map-side; every curve readout folds from census rows
      // (zero raw scans at serve time). Oracle inlines everything.
      "dedup_shingle_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_shcensus", sparkGen.shingleCensusBuildSql)
        s.sql(sparkGen.dedupShingleCurveSql(Some("g_shcensus")))
      }),
      // RESIDUAL IVFADC (true faiss IVF_PQ, §2 row 4d2): the product
      // codebooks train on x − centroid(cell(x)) — within a coarse
      // cell the residuals occupy a far smaller ball, so the same
      // 8×16 budget buys a finer quantization. The residual codebook
      // and codes persist as scratch artifacts over the cached IVF
      // views (build-once/serve-many); oracles inline the full chain.
      "vec_topk_ivfpq_res" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        Scratch.table(s, dir, "g_rpq_ct", gen.rpqTrainBuildSql)
        Scratch.table(s, dir, "g_rpq_codes", gen.rpqCodesBuildSql)
        s.sql(gen.ivfPqResSql(Some(("g_rpq_ct", "g_rpq_codes"))))
      }),
      "ann_recall_eval_ivfpq_res" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        Scratch.table(s, dir, "g_rpq_ct", gen.rpqTrainBuildSql)
        Scratch.table(s, dir, "g_rpq_codes", gen.rpqCodesBuildSql)
        s.sql(gen.annRecallEvalIvfPqResSql(Some(("g_rpq_ct", "g_rpq_codes"))))
      }),
      "vec_ivfpq_res_distortion" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        Scratch.table(s, dir, "g_rpq_ct", gen.rpqTrainBuildSql)
        Scratch.table(s, dir, "g_rpq_codes", gen.rpqCodesBuildSql)
        s.sql(gen.ivfPqResDistortionSql(Some(("g_rpq_ct", "g_rpq_codes"))))
      }),
      // CDC maintenance of the HYBRID SCORE STACK (r11 verdict item
      // 5): the kept per-doc stats artifact (g_hyb_stats — integer
      // BM25 inputs + feature-hash sums) maintained under the
      // deterministic delete/update feed; only the 5% delta is
      // re-tokenized, the global BM25 stats refold from the post
      // table, and the fused top-10 re-serves from stats alone.
      // Oracle inlines the stats build.
      "search_hybrid_upsert" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_hyb_stats", sparkGen.hybStatsBuildSql)
        Scratch.table(s, dir, "g_hyb_delta", sparkGen.hybDeltaBuildSql)
        Scratch.table(s, dir, "g_hyb_post",
          sparkGen.hybPostBuildSql("g_hyb_stats", "g_hyb_delta"))
        Scratch.table(s, dir, "g_hyb_scores_post",
          sparkGen.hybPostScoresBuildSql("g_hyb_post"))
        s.sql(sparkGen.searchHybridUpsertSql(
          Some(("g_hyb_stats", "g_hyb_delta", "g_hyb_post", "g_hyb_scores_post"))))
      }),
      // CDC maintenance of the MINHASH index: the kept signature table
      // (g_mhsig) and its banded pair artifact (g_mhpairs) maintained
      // under the deterministic delete/update feed — stale pairs
      // filtered, only the 5% delta re-signed and band-joined against
      // the post state (the dedup_upsert shape for the other signature
      // family; r10 verdict item 7). Oracle inlines both builds.
      "dedup_upsert_minhash" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        Scratch.table(s, dir, "g_mhpairs",
          sparkGen.minhashPairsFromSigsSql("g_mhsig"))
        s.sql(sparkGen.dedupUpsertMinhashSql(Some("g_mhsig"), Some("g_mhpairs")))
      }),
      // deep NN witness over the PERSISTED quantized-logit table: the
      // depth-6 forward pass is a ~9k-literal expression tree whose
      // Catalyst optimization alone costs seconds per action
      // (data-independent), so the logits build once per session/dir
      // and the census aggregates the parquet rows. Oracle inlines
      // the full chain.
      "wm_nn_decode_deep" -> ((s, dir) => {
        Tables.register(s, dir)
        // the logits artifact builds as a mapPartitions JVM forward
        // pass (operators.NnDeep — Catalyst optimization ALONE on the
        // unrolled ~9k-literal SQL tree costs ~45 s per action, and
        // its fused codegen units overflow janino's 64 KB method cap);
        // arithmetic is bit-identical to the generated chain by shared
        // constants + identical IEEE step order (NnDeepSpec pins it),
        // and the rendered build SQL text versions the cache key, so
        // any arithmetic change invalidates the artifact
        Scratch.tableDf(s, dir, "g_nn_deep_logits",
          sparkGen.nnDeepLogitsBuildSql)(graft.operators.NnDeep.logits(s, dir))
        s.sql(sparkGen.nnDecodeDeepSql(Some("g_nn_deep_logits")))
      }),
      // real WAV decode (synthesize → encode → chunk-walk parse → stats)
      "multimodal_wav_stats" -> ((s, dir) => graft.operators.Wav.wavStats(s, dir)),
      // real audio FEATURE extraction over the decoded PCM payload
      // (ZCR / energy / Walsh sequency correlates — exact integers)
      "multimodal_wav_features" -> ((s, dir) => graft.operators.Wav.wavFeatures(s, dir)),
      // real BMP decode (render embeddings → encode → header/row parse)
      "multimodal_bmp_stats" -> ((s, dir) => graft.operators.Bmp.bmpStats(s, dir)),
      // real image FEATURE extraction over the decoded pixels
      // (gradients / checkerboard Walsh / brightness — exact integers,
      // each sensitive to a different aspect of decode order)
      "multimodal_bmp_features" -> ((s, dir) => graft.operators.Bmp.bmpFeatures(s, dir)),
      // real PNG decode (render → deflate-encode → chunk/CRC/unfilter parse)
      "multimodal_png_stats" -> ((s, dir) => graft.operators.Png.pngStats(s, dir)),
      // perceptual-hash IMAGE DEDUP over the decoded pixels (dHash
      // gradient-sign bits → banded near-dup census)
      "multimodal_image_dhash" -> ((s, dir) => graft.operators.Bmp.imageDhash(s, dir)),
      // real image RESIZE over the decoded pixels (2x2 box downsample
      // -> integer features over the 4x4 thumbnail)
      "multimodal_bmp_resize" -> ((s, dir) => graft.operators.Bmp.bmpResize(s, dir)),
      // perceptual AUDIO-FINGERPRINT dedup over the decoded PCM
      // (frame-energy delta bits → exact collision census)
      "multimodal_audio_fp" -> ((s, dir) => graft.operators.Wav.audioFingerprint(s, dir)),
      // near-dup pairs → deletion groups: checkpoint the pair chain
      // once, then 6 unrolled min-label rounds over the materialized
      // rows (Catalyst re-inlines multi-referenced CTEs, so the pure
      // SQL form would re-run the simhash chain every round). The
      // checkpointed pairs memoize per (session, dir) — the doc-side
      // analog of the WmCache scratch stages: a production pipeline
      // keeps its candidate-pair table, and every grouping/report
      // over it reuses the materialized rows.
      "dedup_components" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql(sparkGen.dedupComponentsSql(Some(simCompViews(s, dir))))
      }),
      // the deletion groups APPLIED: per-source kept/dropped report
      // over the same checkpointed pair chain
      "dedup_apply" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql(sparkGen.dedupApplySql(Some(simCompViews(s, dir))))
      }),
      // quality-aware canonical selection: best text_quality member
      // per near-dup component, over the same checkpointed pair chain
      "dedup_cluster_rep" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql(sparkGen.dedupClusterRepSql(Some(simCompViews(s, dir))))
      }),
      // does keep-lowest-id cost quality vs keep-best? per-source
      // policy comparison over the same checkpointed pair chain
      "dedup_quality_impact" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql(sparkGen.dedupQualityImpactSql(Some(simCompViews(s, dir))))
      }),
      // which sources copy from each other: the syndication matrix
      // over the same checkpointed near-dup pair chain
      "dedup_cross_source" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql(sparkGen.dedupCrossSourceSql(Some(simPairsView(s, dir))))
      }),
      // rotated-BQ search over the PERSISTED packed rotated codes
      // (g_rbq — the rotated twin of the cached g_bq; inline, the
      // 64-sum rotation butterfly executed 3x via rbq re-inlines).
      // Oracle inlines everything.
      "vec_bq_rotation" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        Scratch.table(s, dir, "g_rbq", sparkGen.rbqBuildSql)
        s.sql(sparkGen.vecBqRotationSql(Some("g_rbq")))
      }),
      // the L1 (Cauchy p-stable) LSH rung over the PERSISTED bucket
      // table (r13): inline, `bkt` was referenced twice (query filter
      // + candidate join) and Catalyst re-ran the J×L unrolled 64-term
      // hash projections over the corpus per reference; the artifact
      // is the kept L1 index, the candidate join + exact re-rank stay
      // live. The hash-count J keys the scratch name (the N-derived
      // geometry convention). Oracles inline the chain.
      "vec_topk_l1_lsh" -> ((s, dir) => {
        Tables.register(s, dir)
        val gen = sparkGenFor(s, dir)
        val j = graft.sqlgen.Wm.l1HashesFor(Tables.vectorCount(s, dir))
        val v = s"g_l1bkt_j$j"
        Scratch.table(s, dir, v, gen.l1BktBuildSql)
        s.sql(gen.vecTopkL1LshSql(Some(v)))
      }),
      "ann_recall_eval_l1" -> ((s, dir) => {
        Tables.register(s, dir)
        val gen = sparkGenFor(s, dir)
        val j = graft.sqlgen.Wm.l1HashesFor(Tables.vectorCount(s, dir))
        val v = s"g_l1bkt_j$j"
        Scratch.table(s, dir, v, gen.l1BktBuildSql)
        s.sql(gen.annRecallEvalL1Sql(Some(v)))
      }),
      // winnowing pairs over the PERSISTED fingerprint index (the
      // kept artifact of a winnowing pipeline; inline, the word
      // pipeline + 3 window passes re-ran under both self-join
      // sides). Oracle inlines the chain.
      "dedup_winnow" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_winnow", sparkGen.winnowFpBuildSql)
        s.sql(sparkGen.dedupWinnowSql(Some("g_winnow")))
      }),
      // the banded SimHash pair pass over the PERSISTED signature
      // table (g_simsigs — the kept artifact the whole simpairs
      // family stages through; the inline chain re-ran the corpus
      // word pipeline under both sides of the band self-join). The
      // band join + hamming verify stay live in the serving path;
      // the oracle inlines the full chain.
      "dedup_simhash_pairs" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_simsigs", sparkGen.simhashSigBuildSql)
        s.sql(sparkGenFor(s, dir).simhashPairsFromSigsSql("g_simsigs"))
      }),
      // CDC-upsert maintenance of the kept pair artifact (the
      // delete/update half of dedup_incremental): reads BOTH scratch
      // artifacts a production pipeline maintains — the signature
      // table (g_simsigs, band-independent) and the pair table — and
      // runs the delta-vs-post band join; the oracle inlines both
      // builds. Band geometry follows the serving-path sizing
      // (sparkGenFor) like every other banded key.
      "dedup_upsert" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_simsigs", sparkGen.simhashSigBuildSql)
        s.sql(sparkGenFor(s, dir).dedupUpsertSql(Some("g_simsigs"),
          Some(simPairsView(s, dir))))
      }),
      // overlap metrics over the materialized gram profile: the
      // 5-gram explode (the heaviest text pass) runs ONCE per
      // session/dir; jaccard and containment are per-row divisions
      // over the checkpointed (pair, i, na, nb) rows — the profile
      // table a production dedup pipeline keeps. Oracle renders the
      // full inline chain.
      "dedup_jaccard" -> ((s, dir) => {
        Tables.register(s, dir)
        jaccardPairsView(s, dir)
        s.sql(sparkGen.dedupJaccardSql(Some("g_jpairs")))
      }),
      "dedup_containment" -> ((s, dir) => {
        Tables.register(s, dir)
        jaccardPairsView(s, dir)
        s.sql(sparkGen.dedupContainmentSql(Some("g_jpairs")))
      }),
      // association rules over the checkpointed basket table (the
      // rule SQL references the basket five times; Catalyst would
      // re-evaluate the join+distinct each time)
      "market_basket" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_basket", sparkGen.marketBasketBuildSql)
        s.sql(sparkGen.marketBasketSql(Some("g_basket")))
      }),
      // MMR re-rank: the corpus-sized pool build checkpoints to 30
      // rows; the unrolled selection rounds (each state CTE referenced
      // twice → 2^t Catalyst re-evaluations) then run over the
      // checkpoint, not the corpus chain.
      "vec_mmr" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mmr_pool", sparkGen.mmrPoolSql)
        s.sql(sparkGen.mmrSql(Some("g_mmr_pool")))
      }),
      // decontamination over the materialized shingle index: the
      // lead()-window shingle pass (the expensive part of BOTH decont
      // queries) runs once per session/dir per side; exact and
      // Bloom-prefiltered variants then join the checkpointed rows.
      // A production pipeline keeps its eval-shingle index and screens
      // every training batch against it.
      "decontaminate" -> ((s, dir) => {
        Tables.register(s, dir)
        decontShinglesView(s, dir)
        s.sql(sparkGen.decontaminateSql(Some(("g_dsh_ev", "g_dsh_tr"))))
      }),
      "decontaminate_bloom" -> ((s, dir) => {
        Tables.register(s, dir)
        decontShinglesView(s, dir)
        s.sql(sparkGen.decontaminateBloomSql(Some(("g_dsh_ev", "g_dsh_tr"))))
      }),
      // the per-source word-frequency family reads the PERSISTED
      // unigram-LM artifact (g_srcwf — inline, each key re-ran the
      // corpus explode once per wf reference: 4-5 passes each).
      // Oracles inline the chain.
      "text_js_divergence" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.textJsDivergenceSql(Some("g_srcwf")))
      }),
      "text_kl_divergence" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.textKlDivergenceSql(Some("g_srcwf")))
      }),
      "text_keywords_llr" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.textKeywordsLlrSql(Some("g_srcwf")))
      }),
      "text_simpson" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.textSimpsonSql(Some("g_srcwf")))
      }),
      // the KMV sketch family reads the SAME persisted unigram
      // artifact (r13 — g_srcwf's rows ARE the distinct (source, word)
      // pairs the bottom-k hash sets derive from; inline, each wh
      // reference re-ran the corpus explode + distinct: 2 for the
      // curve, 4 for the overlap key's rank/census/exact-overlap
      // legs). Oracles inline the chain.
      "sketch_kmv" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.kmvSql(Seq(16, 64, 256), wfView = Some("g_srcwf")))
      }),
      "sketch_kmv_overlap" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.kmvOverlapSql(Some("g_srcwf")))
      }),
      // boilerplate coverage over the SAME persisted 3-shingle profile
      // the minhash verify legs read (g_mhshx — identical distinct
      // (doc_id, sh) definition): shx is referenced twice (df census +
      // per-doc coverage join) and Catalyst re-inlines per reference,
      // so the inline form ran the corpus shingle window chain twice
      // (the #1 gate key, r12 verdict item 3). The doc-count threshold
      // folds from the profile too (docs with >= 3 words == docs with
      // >= 1 shingle). Oracle inlines the full chain.
      "text_boilerplate_share" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhshx", sparkGen.minhashShxBuildSql)
        s.sql(sparkGen.textBoilerplateShareSql(Some("g_mhshx")))
      }),
      // the Bloom sketch keys read the SAME kept shingle indexes the
      // decontamination family serves from (r12 — inline, evd/trd
      // re-ran the corpus shingle chain once per reference: 3-4
      // corpus passes each). Oracles inline the chain.
      "sketch_bloom" -> ((s, dir) => {
        Tables.register(s, dir)
        decontShinglesView(s, dir)
        s.sql(sparkGen.sketchBloomSql(Some(("g_dsh_ev", "g_dsh_tr"))))
      }),
      "sketch_bloom_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        decontShinglesView(s, dir)
        s.sql(sparkGen.sketchBloomCurveSql(Some(("g_dsh_ev", "g_dsh_tr"))))
      }),
      // removal-effect attribution: the journey pass (lag windows over
      // the events scan) is the only corpus-priced work and runs once
      // per session/dir; the 8-step × 5-variant power iteration is
      // BOUNDED driver math over the collected ≤ |event_types|²-row
      // transition census (the Pca/Mds convention — 40 tiny shuffled
      // aggregations cost ~4 s of pure exchange latency for ≤ 35 live
      // state rows; the driver does the same exact integer arithmetic
      // in microseconds). The oracle re-derives the identical ppm
      // iteration in pure SQL (markovAttributionSql), so the hash
      // match pins the driver math to the SQL rendering.
      "events_attribution_markov" -> ((s, dir) => {
        Tables.register(s, dir)
        val tr = Scratch.table(s, dir, "g_markov_trans", sparkGen.markovTransBuildSql)
        val trans = tr.collect().map(r => (r.getAs[String]("src"),
          r.getAs[String]("dst"), r.getAs[Long]("c")))
        val outc = trans.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
        val ppm = trans.map { case (src, dst, c) => (src, dst, c * 1000000L / outc(src)) }
        def conv(removed: Option[String]): (Long, Long) = {
          val vt = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
          ppm.foreach { case (src, dst, p) =>
            if (!removed.contains(src))
              vt((src, if (removed.contains(dst)) "null" else dst)) += p
          }
          vt(("purchase", "purchase")) += 1000000L
          vt(("null", "null")) += 1000000L
          var st = Map("start" -> 1000000000000L).withDefaultValue(0L)
          for (_ <- 1 to 8) {
            val nx = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
            vt.foreach { case ((a, b), p) => if (st(a) != 0L) nx(b) += st(a) * p / 1000000L }
            st = nx.toMap.withDefaultValue(0L)
          }
          (st("purchase"), st("purchase") + st("null"))
        }
        val (fullP, fullAb) = conv(None)
        val chans = Seq("view", "click", "signup", "error")
        val effs = chans.map(c => c -> (1.0 - conv(Some(c))._1.toDouble / fullP))
        val sEff = effs.map(_._2).sum
        def r(x: Double, dec: Int) = {
          val m = math.pow(10, dec)
          (if (x >= 0) math.floor(x * m + 0.5) else -math.floor(-x * m + 0.5)) / m
        }
        import s.implicits._
        effs.map { case (c, eff) =>
          (c, r(fullP / 1e12, 6), r(conv(Some(c))._1 / 1e12, 6), r(eff, 6),
            r(eff / sEff, 4), r(1.0 - fullAb / 1e12, 6))
        }.toDF("channel", "conv_full", "conv_removed", "removal_effect",
          "attribution", "mass_unabsorbed")
      }),
      // stationary distribution of the raw event-type chain: the
      // transition census (the only corpus-priced pass) is
      // scratch-materialized once per (session, dir); the 8-step
      // power iteration is BOUNDED driver math over the collected
      // ≤ |event_types|²-row matrix (the attribution convention —
      // ~17 tiny shuffled aggregations would cost ~2 s of pure
      // exchange latency for 25 live rows; the driver does the same
      // exact integer arithmetic in microseconds). The oracle
      // re-derives the identical ppm iteration in pure SQL
      // (markovStationarySql), pinning the driver math op for op.
      "events_markov_stationary" -> ((s, dir) => {
        Tables.register(s, dir)
        val tr = Scratch.table(s, dir, "g_type_trans", sparkGen.typeTransBuildSql)
        val trans = tr.collect().map(r => (r.getAs[String]("src"),
          r.getAs[String]("dst"), r.getAs[Long]("c")))
        val outc = trans.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
        val ppm = trans.map { case (a, b, c) => (a, b, c * 1000000L / outc(a)) }
        val k = outc.size.toLong
        var st: Map[String, Long] =
          outc.keys.map(_ -> 1000000000000L / k).toMap.withDefaultValue(0L)
        var prev = st
        for (_ <- 1 to 8) {
          prev = st
          val nx = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
          ppm.foreach { case (a, b, p) => if (st.contains(a)) nx(b) += st(a) * p / 1000000L }
          st = nx.toMap.withDefaultValue(0L)
        }
        val total = outc.values.sum
        def r6(x: Double) = PcaSolve.roundAway(x, 6)
        import s.implicits._
        outc.toSeq.map { case (state, n) =>
          (state, n, r6(n.toDouble / total),
            r6(st.getOrElse(state, 0L) / 1e12), r6(prev.getOrElse(state, 0L) / 1e12),
            r6(math.abs(st.getOrElse(state, 0L) - prev.getOrElse(state, 0L)) / 1e12))
        }.toDF("state", "n_out_transitions", "occupancy",
          "pi_stationary", "pi_prev_step", "step_delta")
      }),
      // hybrid RRF over the checkpointed two-leg score table: the
      // corpus-priced passes (word explode → BM25 + feature-hash
      // aggs) run once per session/dir; the rank/fusion rounds
      // (which reference the score rows several times — Catalyst
      // re-inlines CTEs) run over candidate-sized materialized rows.
      "search_hybrid_rrf" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_hybrid_scores", sparkGen.hybridScoresBuildSql)
        s.sql(sparkGen.hybridRrfSql(Some("g_hybrid_scores")))
      }),
      // dedup tier benchmark: exact-Jaccard truth on a PRF doc sample
      // vs the served MinHash/SimHash candidate sets (read from their
      // scratch tables) — precision/recall/F1 per tier
      // (Queries.dedupTierEvalSql)
      "dedup_tier_eval" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        // r13: the exact-Jaccard truth leg reads the persisted 3-shingle
        // profile (g_mhshx) instead of re-running the corpus word
        // pipeline 3x under Catalyst CTE re-inlining (tg is referenced
        // by gsz + both self-join sides). Oracle inlines the chain.
        Scratch.table(s, dir, "g_mhshx", sparkGen.minhashShxBuildSql)
        s.sql(sparkGen.dedupTierEvalSql(
          Some(("g_mhsig", simPairsView(s, dir), "g_mhshx"))))
      }),
      // second-stage rerank + Kendall-τ agreement ladder over the
      // same cached two-leg score table (Queries.rerankAgreementSql)
      "search_rerank_agreement" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_hybrid_scores", sparkGen.hybridScoresBuildSql)
        s.sql(sparkGen.rerankAgreementSql(Some("g_hybrid_scores")))
      }),
      // the native TypedImperativeAggregate HLL (functions.HllAgg):
      // the aggregation buffer IS the register array, merged
      // register-wise across partitions — bit-identical math to the
      // SQL chain, so the oracle is sketch_distinct_by_source's pure
      // SQL rendering
      "sketch_distinct_native" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql("""
          |with sw as (select source, split(lower(text), '\\s+') as ws from documents),
          |swx as (select source, wd from sw lateral view explode(ws) _e as wd),
          |ag as (select source, graft_hll(wd) as hll, count(distinct wd) as nd from swx group by source)
          |select source, cast(nd as bigint) as n_exact, hll as hll_est,
          |  round(abs(hll - nd) / nd, 4) as rel_err
          |from ag""".stripMargin)
      }),
      // the native TypedImperativeAggregate KMV bottom-k sketch
      // (functions.KmvAgg): the aggregation buffer IS the k-bounded
      // distinct-min hash set — O(k) state per group where the SQL
      // window rendering ranks the full per-source hash stream. The
      // buffer is a pure function of the input SET, so the result is
      // partitioning-invariant by construction; the oracle is the
      // pure-SQL k=64 window rendering (kmvSql)
      "sketch_kmv_native" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_srcwf", sparkGen.srcWordFreqBuildSql)
        s.sql(sparkGen.kmvSql(Seq(64), native = true, wfView = Some("g_srcwf")))
      }),
      // the native TypedImperativeAggregate count-min sketch
      // (functions.CmsAgg): the aggregation buffer IS the 4x16 long
      // grid, merged by elementwise addition — point queries over the
      // native grid are bit-identical integer math to the SQL grid,
      // so the oracle is sketch_cms's pure SQL rendering
      "sketch_cms_native" -> ((s, dir) => {
        Tables.register(s, dir)
        def prfCol(r: Int) =
          s"cast(conv(substr(md5(concat_ws(':', 'cms', '$r', wc.wd)), 1, 15), 16, 10) as bigint) % 16"
        def cell(r: Int) =
          s"element_at(g.grid, cast($r * 16 + ${prfCol(r)} + 1 as int)) as e$r"
        s.sql(s"""
          |with sw as (select split(lower(text), '\\\\s+') as ws from documents),
          |wx as (select wd from sw lateral view explode(ws) _e as wd),
          |g as (select graft_cms(wd) as grid from wx),
          |wc as (select wd, count(*) as c from wx group by wd),
          |sel as (select wd, c, least(e0, e1, e2, e3) as est from (
          |  select wc.wd, wc.c, ${(0 until 4).map(cell).mkString(", ")}
          |  from wc cross join g) _x)
          |select wd as word, cast(c as bigint) as n_exact,
          |  cast(est as bigint) as cms_est, cast(est - c as bigint) as overestimate
          |from sel""".stripMargin)
      }),
      // BPE merge rounds over the checkpointed vocabulary: the one
      // corpus pass (word counts + char-split) materializes once;
      // the unrolled merge rounds (each state referenced by the next
      // round AND the output union — multiplicative under CTE
      // re-inlining) run over the vocabulary-sized checkpoint.
      "text_bpe_merges" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_bpe_vocab", sparkGen.bpeVocabBuildSql)
        s.sql(sparkGen.bpeMergesSql(Some("g_bpe_vocab")))
      }),
      // the banded MinHash candidate family over the PERSISTED
      // signature table (g_mhsig — the kept LSH index every dedup
      // pipeline persists; the r11 inline plans re-ran the corpus
      // word pipeline once per `bands`/`shx` reference: 2x for the
      // pair pass, 5x for the exact-verify legs) and, for the
      // verify/tuning legs, the PERSISTED shingle profile (g_mhshx —
      // the decont-shingle-index pattern). Oracles inline the chain.
      // r13: the minhash candidate family serves from the kept banded
      // PAIR artifact (g_mhpairs — already maintained for the CDC
      // upsert key; its mm >= 2 filter IS the est >= 0.1 cut for
      // integer mm), so the band self-join runs once at build time
      // instead of once per serving reference (calibration referenced
      // `cand` twice — the band join re-inlined per reference). The
      // exact-verify legs (shingle joins) stay live; oracles inline
      // the full chain.
      "dedup_minhash" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        Scratch.table(s, dir, "g_mhpairs",
          sparkGen.minhashPairsFromSigsSql("g_mhsig"))
        s.sql(sparkGen.dedupMinhashSql(Some(("g_mhsig", None)),
          pairsFrom = Some("g_mhpairs")))
      }),
      "dedup_incremental" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        s.sql(sparkGen.dedupIncrementalSql(Some(("g_mhsig", None))))
      }),
      "dedup_minhash_verify" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        Scratch.table(s, dir, "g_mhshx", sparkGen.minhashShxBuildSql)
        Scratch.table(s, dir, "g_mhpairs",
          sparkGen.minhashPairsFromSigsSql("g_mhsig"))
        s.sql(sparkGen.dedupMinhashVerifySql(Some(("g_mhsig", Some("g_mhshx"))),
          pairsFrom = Some("g_mhpairs")))
      }),
      "dedup_threshold_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        Scratch.table(s, dir, "g_mhshx", sparkGen.minhashShxBuildSql)
        Scratch.table(s, dir, "g_mhpairs",
          sparkGen.minhashPairsFromSigsSql("g_mhsig"))
        s.sql(sparkGen.dedupThresholdCurveSql(Some(("g_mhsig", Some("g_mhshx"))),
          pairsFrom = Some("g_mhpairs")))
      }),
      "dedup_minhash_calibration" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        Scratch.table(s, dir, "g_mhshx", sparkGen.minhashShxBuildSql)
        Scratch.table(s, dir, "g_mhpairs",
          sparkGen.minhashPairsFromSigsSql("g_mhsig"))
        s.sql(sparkGen.dedupMinhashCalibrationSql(Some(("g_mhsig", Some("g_mhshx"))),
          pairsFrom = Some("g_mhpairs")))
      }),
      // band-geometry tuning curve over the checkpointed minhash
      // signature table (the curve SQL references the signatures 17
      // times — Catalyst re-inlines multi-referenced CTEs, so the
      // corpus chain materializes ONCE per session/dir; the production
      // scratch every LSH dedup pipeline persists anyway)
      "minhash_band_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_mhsig", sparkGen.minhashSigBuildSql)
        s.sql(sparkGen.minhashCurveSql(Some("g_mhsig")))
      }),
      // modularity over the checkpointed LPA labels: the readout
      // references the label table three times (Catalyst re-inlines
      // multi-referenced CTEs — inline it would re-run the 3 LPA
      // rounds per reference); the labels checkpoint once per
      // (session, dir), the production shape — a community assignment
      // is a kept artifact, every quality readout joins it
      "graph_modularity" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        Scratch.table(s, dir, "g_lpa", sparkGen.lpaBuildSql)
        s.sql(sparkGen.graphModularitySql(Some("g_lpa")))
      }),
      // the LPA convergence curve over the checkpointed 3-round label
      // table + the betweenness-shared symmetrized edge scratch (r10):
      // the curve references labels ×3 and edges ×3 — view-backed
      // those are six cheap parquet scans; inline they re-ran the LPA
      // rounds and the edge dedup per reference (the stage-heavy shape
      // that amplified ambient load into a 3× bench reading)
      "graph_lpa_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_edges_sym_p$planes"
        Scratch.table(s, dir, v,
          "select src, dst from g_knn union select dst, src from g_knn")
        Scratch.table(s, dir, "g_lpa_rounds", sparkGen.lpaRoundsBuildSql)
        s.sql(sparkGenFor(s, dir).graphLpaCurveSql(Some(("g_lpa_rounds", v))))
      }),
      // per-community conductance over the same checkpointed LPA
      // labels (the kept community assignment) + the served kNN edges
      "graph_conductance" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        Scratch.table(s, dir, "g_lpa", sparkGen.lpaBuildSql)
        s.sql(sparkGen.graphConductanceSql(Some("g_lpa")))
      }),
      // native bounded-state per-group top-k (functions.TopKAgg):
      // map-side partials keep ≤ k pairs per group, so the exchange
      // carries O(groups·k) rows where the oracle's window form sorts
      // the full candidate stream
      "vec_topk_grouped" -> ((s, dir) => {
        Tables.register(s, dir)
        s.sql(sparkGen.groupedTopkSql())
      }),
      // watermark repair over a PERSISTED damage snapshot: the σ=0.04
      // attacked-stego table is scratch-materialized once (the repair
      // job's kept input — Catalyst re-inlines a 4×-referenced CTE, so
      // the pure SQL form re-derived the attack per reference; r8
      // verdict item 7), then the pre-decode / re-embed / post-decode
      // passes all read the materialized rows. Oracle inlines the att
      // CTE (DuckHints materializes it there).
      // Rocchio classifier over the PERSISTED (doc, word) presence
      // table: the r11 plan re-ran the corpus explode per reference
      // (3x — doc sizes, centroids, scoring join; the 4-rep-stable
      // regression cluster). Build once; serving joins parquet scans
      // with the vocabulary-bounded sides broadcast. Oracle inlines.
      "text_centroid_classify" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_docwords", sparkGen.docWordsBuildSql)
        s.sql(sparkGen.textCentroidClassifySql(Some("g_docwords")))
      }),
      // Burrows' Delta over the PERSISTED (source, word, z) table:
      // the inline plan re-derived the corpus word census per `pre`/
      // `z` reference (710 nodes / 48 scans — r11 verdict item 7);
      // the artifact is |sources|·30 rows and the serving readout is
      // one self-join over it. Oracle inlines the full chain.
      "text_burrows_delta" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_bdz", sparkGen.bdzBuildSql)
        s.sql(sparkGen.textBurrowsDeltaSql(Some("g_bdz")))
      }),
      // sampled-audit curve over the PERSISTED per-id decode-stats
      // table: the corpus-priced per-id projection aggregation (axa)
      // was re-derived per downstream reference inline (tier censuses
      // + vote ladder — the r11 regression cluster). One corpus pass
      // at build; serving folds from O(N)-row scans. Oracle inlines.
      "wm_audit_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_audit_dec_p$planes"
        Scratch.table(s, dir, v, gen.auditDecodeBuildSql)
        s.sql(gen.wmAuditCurveSql(Some(v)))
      }),
      // RFM segmentation over the PERSISTED per-user feature table
      // (the kept artifact of a production segmentation): inline, the
      // per-user events aggregation re-inlined per reference — 3
      // median censuses + count + segment join = the r11 plan's 20
      // events scans. Oracle inlines everything.
      "events_rfm" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_rfm_user", sparkGen.rfmUserBuildSql)
        s.sql(sparkGen.eventsRfmSql(Some("g_rfm_user")))
      }),
      // multi-tenant watermarking over a PERSISTED tenant-B stego
      // overlay: the carrier re-selection windows + B-key QIM embed
      // are a build-once artifact (the wm_repair damage-snapshot
      // treatment — r11's inline plan was a 615-node tree with 58
      // scans / 30 BNLJs from Catalyst CTE re-inlining of the
      // overlay + the two extraction chains). Oracle inlines it all.
      "wm_multi_tenant" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        // plane count in the scratch name: the build reads g_indeg /
        // exn whose ROWS depend on the bucket geometry
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_mtb_stego_p$planes"
        Scratch.table(s, dir, v, gen.mtbStegoBuildSql)
        s.sql(gen.wmMultiTenantSql(Some(v)))
      }),
      // overwriting attack over a PERSISTED pirate-overwritten stego
      // table (the wm_multi_tenant overlay treatment — r12: planning
      // ALONE on the inline tree cost ~1.5 s per action because the
      // pirate embed chain re-inlined under both extraction legs;
      // the artifact holds exactly the inline ostego rows). Oracle
      // inlines the full chain.
      "wm_overwrite" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_ow_stego_p$planes"
        Scratch.table(s, dir, v, gen.owStegoBuildSql)
        s.sql(gen.wmOverwriteSql(Some(v)))
      }),
      // collusion attack over a PERSISTED colluder-averaged table
      // (same overlay treatment; serving = ONE extraction chain over
      // the parquet artifact). Oracle inlines the full chain.
      "wm_collusion" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_coll_stego_p$planes"
        Scratch.table(s, dir, v, gen.collStegoBuildSql)
        s.sql(gen.wmCollusionSql(Some(v)))
      }),
      // Δ tuning curve over the PERSISTED rung-shift state + the
      // rung-tagged attacked ladder (the overlay treatment again —
      // serving is one extraction chain over a parquet scan + two
      // tiny folds). Oracle inlines the full chain.
      "wm_delta_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val shiftV = s"g_dc_shift_p$planes"
        val attV = s"g_dc_att_p$planes"
        Scratch.table(s, dir, shiftV, gen.dcShiftBuildSql)
        Scratch.table(s, dir, attV, gen.dcAttBuildSql(shiftV))
        s.sql(gen.wmDeltaCurveSql(Some((shiftV, attV))))
      }),
      "wm_repair" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val gen = sparkGenFor(s, dir)
        // plane count in the scratch name: the build SQL's TEXT doesn't
        // change with the bucket geometry (it reads the g_stego view),
        // but its ROWS do — the name keys the cache to the layout.
        // r12 serving split: the damage snapshot (att), the pre-decode
        // validity table (predec) and the REPAIRED table (fixed) are
        // the repair job's kept artifacts; serving runs ONE extraction
        // chain (post-decode) instead of three (the inline plan's
        // planning alone cost ~1.9 s per action). Oracle inlines all.
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_wm_att_p$planes"
        val predecV = s"g_wm_predec_p$planes"
        val fixedV = s"g_wm_fixed_p$planes"
        Scratch.table(s, dir, v, gen.wmAttackBuildSql)
        Scratch.table(s, dir, predecV, gen.wmPredecBuildSql(v))
        Scratch.table(s, dir, fixedV, gen.wmFixedBuildSql(v, predecV))
        s.sql(gen.wmRepairServeSql(predecV, fixedV))
      }),
      // sampled betweenness over a PERSISTED symmetrized edge table:
      // the BFS levels and the Brandes successor join reference the
      // edge set repeatedly (Catalyst re-inlines the union-distinct
      // per reference — measured 5.1 s inline at sf0.01, scratch-backed
      // well under 1 s); the oracle inlines it, DuckDB-materialized.
      "graph_betweenness" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_edges_sym_p$planes"
        Scratch.table(s, dir, v,
          "select src, dst from g_knn union select dst, src from g_knn")
        s.sql(sparkGenFor(s, dir).graphBetweennessSql(Some(v)))
      }),
      // the degree-correlation curve references the edge set ~5×
      // (deg/ed2 unions + two joins) — scratch-backed those are five
      // scans of one materialized parquet (inline re-derived the kNN
      // build per reference: 36.5 s vs 4-5 s at the 30× decade)
      "graph_knn_degree_curve" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_edges_sym_p$planes"
        Scratch.table(s, dir, v,
          "select src, dst from g_knn union select dst, src from g_knn")
        s.sql(sparkGenFor(s, dir).graphKnnDegreeCurveSql(Some(v)))
      }),
      // sampled harmonic closeness shares the SAME persisted
      // symmetrized edge table (the hop chain references the edge set
      // 3×; scratch-backed it's three scans of a materialized parquet,
      // inline it would re-derive the union-distinct per reference).
      "graph_closeness" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
        val v = s"g_edges_sym_p$planes"
        Scratch.table(s, dir, v,
          "select src, dst from g_knn union select dst, src from g_knn")
        s.sql(sparkGenFor(s, dir).graphClosenessSql(Some(v)))
      }),
      // 21g registry-path extraction: the carrier-id list persists as
      // a cross-session parquet scratch artifact (the reference's
      // save_low_degree_ids file), and extraction joins the attacked
      // corpus against it — broadcast semi-join + the shared decode
      // aggregation, NO selection-chain rebuild. Oracle inlines the
      // same id list from the chain (Queries.wmExtractIdsSql).
      "wm_extract_ids" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        Scratch.table(s, dir, "g_carrier_ids", "select vec_id, blk from g_carriers")
        s.sql(sparkGenFor(s, dir).wmExtractIdsSql(Some("g_carrier_ids")))
      }),
      // row 11's SQL half made hash-gated (r8 verdict item 4): the
      // registry-path RECOVER — same persisted id list, same attack,
      // votes reassembled into the ciphertext characters the AES-GCM
      // decrypt consumes; WatermarkEndToEndSpec decrypts this key's
      // output, so only the AES call itself stays spec-only.
      "wm_recover_registry" -> ((s, dir) => {
        Tables.register(s, dir)
        WmCache.ensure(s, dir)
        Scratch.table(s, dir, "g_carrier_ids", "select vec_id, blk from g_carriers")
        s.sql(sparkGenFor(s, dir).wmRecoverRegistrySql(Some("g_carrier_ids")))
      }),
      // the in-SQL power-iteration eigensolve mirrored in the JVM
      // (operators.PcaSolve — the bounded-driver-math convention of
      // events_attribution_markov): ONE 44-aggregate corpus pass
      // (Gen.pcaMomentsSql) collects the 8×8 moment row; the C⁴ power
      // iterations, Rayleigh quotients, and deflation run as exact
      // IEEE-ordered driver math; the DuckDB oracle still renders the
      // full ~50-stage SQL chain, so the hash match pins the mirror
      // op for op. Replaces the two slowest gate keys' 1-row
      // HashAggregate chains (pure exchange latency, 4.9 s + 3.1 s).
      "pca_variance_explained" -> ((s, dir) => {
        Tables.register(s, dir)
        val e = pcaEig(s, dir)
        def r6(x: Double) = PcaSolve.roundAway(x, 6)
        def r4(x: Double) = PcaSolve.roundAway(x, 4)
        import s.implicits._
        Seq(
          ("pc1", r6(e.lam1), r4(e.lam1 / e.tr), r4(e.lam1 / e.tr), r6(e.tr)),
          ("pc2", r6(e.lam2), r4(e.lam2 / e.tr), r4((e.lam1 + e.lam2) / e.tr), r6(e.tr)),
          ("residual", r6(e.tr - e.lam1 - e.lam2), r4((e.tr - e.lam1 - e.lam2) / e.tr),
            r4(1.0), r6(e.tr)))
          .toDF("component", "lambda", "explained_share",
            "cum_explained_share", "total_variance")
      }),
      // same solve; the projection itself stays a MAP-ONLY corpus scan
      // with the solved axes as exact double literals (shortest repr
      // round-trips bit-exactly through cast-as-double) — identical
      // per-row arithmetic to the generated SQL's final select
      "pca_project2d" -> ((s, dir) => {
        Tables.register(s, dir)
        val e = pcaEig(s, dir)
        // sign convention: first component of each axis made positive;
        // ±1 multiplies are exact, but the m1/m2 term order follows
        // the SQL: ((mu_i · ev_i) · sgn), summed left-to-right
        val sg1 = if (e.ev(0) < 0) -1.0 else 1.0
        val sg2 = if (e.v2(0) < 0) -1.0 else 1.0
        val w1 = e.ev.toSeq.map(_ * sg1)
        val w2 = e.v2.toSeq.map(_ * sg2)
        var m1 = 0.0; var m2 = 0.0
        (0 until PcaSolve.Dim).foreach { i =>
          m1 += e.mu(i) * e.ev(i) * sg1
          m2 += e.mu(i) * e.v2(i) * sg2
        }
        s.sql(sparkGen.pcaProjectSql(w1, w2, m1, m2))
      }),
      // same solve again; the residual pass is a MAP-ONLY corpus scan
      // with the solved means/axes as exact double literals + one
      // rollup (pcaResidualLiteralSql) — identical per-row arithmetic
      // to the oracle's rendering by shared template construction.
      // Sign fix matches pca_project2d (residual² is sign-invariant,
      // but the rendered text must match the oracle's op for op).
      "vec_pca_residual" -> ((s, dir) => {
        Tables.register(s, dir)
        val e = pcaEig(s, dir)
        val sg1 = if (e.ev(0) < 0) -1.0 else 1.0
        val sg2 = if (e.v2(0) < 0) -1.0 else 1.0
        s.sql(sparkGen.pcaResidualLiteralSql(e.mu.toSeq,
          e.ev.toSeq.map(_ * sg1), e.v2.toSeq.map(_ * sg2)))
      }),
      // landmark-MDS 2-D layout (§2 row 21i), the JVM-mirror half of
      // the vec_mds2d oracle chain: collect the 32 PRF-ranked landmark
      // rows (bounded — m is a constant), fold their 8×8 moment row in
      // the SQL rendering's exact left-to-right order, run the SAME
      // PcaSolve eigensolve the chain renders (landmark-MDS ≡ PCA of
      // the landmark set — mdsSt0Cte's derivation), and project the
      // corpus map-only with the solved axes as exact double literals.
      "vec_mds2d" -> ((s, dir) => {
        Tables.register(s, dir)
        val rows = s.sql(sparkGen.mdsLandmarksSql).collect()
        require(rows.length == graft.sqlgen.Wm.MdsLandmarks,
          s"need ${graft.sqlgen.Wm.MdsLandmarks} landmarks, got ${rows.length}")
        val xs = rows.map(_.getSeq[Double](1).toArray)
        val m = xs.length
        // moments in the pivot's pinned order: ((x1 + x2) + x3) … / 32
        // (0.0 + x1 == x1 exactly, so the JVM fold matches the SQL's
        // first-term start; /32 is a power-of-two divide — exact)
        def mom(f: Array[Double] => Double): Double = {
          var t = 0.0; var k = 0
          while (k < m) { t += f(xs(k)); k += 1 }
          t / m
        }
        val a = Array.tabulate(PcaSolve.Dim)(i => mom(x => x(i)))
        val e = PcaSolve.solve(a, (i, j) => mom(x => x(i) * x(j)))
        val sg1 = if (e.ev(0) < 0) -1.0 else 1.0
        val sg2 = if (e.v2(0) < 0) -1.0 else 1.0
        val w1 = e.ev.toSeq.map(_ * sg1)
        val w2 = e.v2.toSeq.map(_ * sg2)
        var m1 = 0.0; var m2 = 0.0
        (0 until PcaSolve.Dim).foreach { i =>
          m1 += e.mu(i) * e.ev(i) * sg1
          m2 += e.mu(i) * e.v2(i) * sg2
        }
        s.sql(sparkGen.mdsProjectSql(w1, w2, m1, m2))
      }),
      // the learned merges APPLIED: distinct words encode once against
      // the same checkpointed vocabulary (the tokenizer's shipped
      // lookup table), docs join token lengths back
      "text_bpe_encode" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_bpe_vocab", sparkGen.bpeVocabBuildSql)
        s.sql(sparkGen.bpeEncodeSql(Some("g_bpe_vocab")))
      }),
      // per-language tokenizer fertility over the same checkpointed
      // vocabulary (the multilingual-equity readout of the shipped
      // tokenizer artifact)
      "text_bpe_fertility" -> ((s, dir) => {
        Tables.register(s, dir)
        Scratch.table(s, dir, "g_bpe_vocab", sparkGen.bpeVocabBuildSql)
        s.sql(sparkGen.bpeFertilitySql(Some("g_bpe_vocab")))
      }))

  /** Collect the one st0 moment row and run the JVM eigensolve. */
  private def pcaEig(s: SparkSession, dir: String): PcaSolve.Eig = {
    val row = s.sql(sparkGen.pcaMomentsSql).collect()(0)
    val a = Array.tabulate(PcaSolve.Dim)(i => row.getAs[Double](s"a${i + 1}"))
    PcaSolve.solve(a, (i, j) => row.getAs[Double](s"m${i + 1}_${j + 1}"))
  }

  // every doc-side session table goes through the cross-session
  // artifact store (graft.Scratch, which holds the chain too): a fresh
  // session READS the kept artifact instead of re-paying the
  // corpus-priced build; scratch off / write failure falls back to
  // the in-session localCheckpoint, value-identical
  private def simPairsView(s: SparkSession, dir: String): String = {
    // band geometry derived from the doc count (simhashBandsFor —
    // floors at the static 5×12 below ~82k docs, so the verify-scale
    // scratch name and rows are unchanged); the geometry keys the
    // scratch name because the pair ROWS change with the band split.
    // The build STAGES through the persisted signature table (r10):
    // signatures are band-INDEPENDENT, so g_simsigs is shared by every
    // geometry and by dedup_upsert's maintenance path, and a re-arm of
    // the band ladder re-pays only the banded join, never the
    // corpus-priced word pipeline. Pair rows are value-identical to
    // the inline chain (re-verified by hash across the family).
    val bands = graft.sqlgen.Wm.simhashBandsFor(Tables.docCount(s, dir))
    val v = if (bands == graft.sqlgen.Wm.SimhashBands) "g_simpairs"
            else s"g_simpairs_b$bands"
    Scratch.table(s, dir, "g_simsigs", sparkGen.simhashSigBuildSql)
    Scratch.table(s, dir, v,
      sparkGenFor(s, dir).simhashPairsFromSigsSql("g_simsigs"))
    v
  }

  /** The CONTRACTED component-graph artifacts on top of the pair
    * scratch (equal-signature contraction — componentsCtes documents
    * the equivalence): g_simreps (doc → its sig group's min-doc rep +
    * group size) and g_simrpairs (distinct rep pairs). Materialized
    * as parquet because the 6 propagation rounds reference the graph
    * 6× and Catalyst re-inlines per reference — view-backed those are
    * 6 cheap scans; inline they re-ran the contraction joins per
    * round (measured 75 s vs ~1 s at sf0.01). Returns the rep-pairs
    * view name (the componentsCtes Some(...) convention). */
  private def simCompViews(s: SparkSession, dir: String): String = {
    val pairs = simPairsView(s, dir)
    Scratch.table(s, dir, "g_simreps", sparkGen.simRepsBuildSql("g_simsigs"))
    Scratch.table(s, dir, "g_simrpairs",
      sparkGen.simRepPairsBuildSql(pairs, "g_simreps"))
    Scratch.table(s, dir, "g_simnodes",
      sparkGen.simNodesBuildSql("g_simreps", "g_simrpairs"))
    Scratch.table(s, dir, "g_simsym",
      sparkGen.simSymBuildSql("g_simrpairs", "g_simnodes"))
    "g_simrpairs"
  }

  /** The append batch's beam-search forward links (qid, cid, sim, rn),
    * scratch-persisted once per (session, dir, planes) — the shared
    * input of vec_graph_append and vec_graph_compact (r10 verdict
    * item 3). The plane count keys the name because the beam runs over
    * the served graph geometry (the wm_repair convention). */
  private def appendLinksView(s: SparkSession, dir: String): String = {
    val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
    val v = s"g_applinks_p$planes"
    Scratch.table(s, dir, v, sparkGenFor(s, dir).graphAppendLinksSql)
    v
  }

  private def jaccardPairsView(s: SparkSession, dir: String): Unit =
    Scratch.table(s, dir, "g_jpairs", sparkGen.jaccardPairsBuildSql): Unit

  private def decontShinglesView(s: SparkSession, dir: String): Unit = {
    Scratch.table(s, dir, "g_dsh_ev", sparkGen.decontShinglesBuildSql("ev"))
    Scratch.table(s, dir, "g_dsh_tr", sparkGen.decontShinglesBuildSql("tr")): Unit
  }

  /** DuckDB-runnable oracle SQL, generated from the same templates.
    * Every rendering passes through DuckHints.materialize — DuckDB 1.0
    * re-evaluates multi-referenced CTEs per reference, which made the
    * heaviest wm oracles minutes each (sqlgen.DuckHints). */
  def oracleSql: Map[String, String] = rawOracleSql.view
    .mapValues(graft.sqlgen.DuckHints.materialize).toMap

  private def rawOracleSql: Map[String, String] =
    duckGen.sqls.map { case (k, _) => k -> duckGen.sql(k) } ++
      Map("multimodal_wav_stats" -> graft.operators.Wav.wavStatsOracleSql,
        "multimodal_wav_features" -> graft.operators.Wav.wavFeaturesOracleSql,
        "multimodal_bmp_stats" -> graft.operators.Bmp.bmpStatsOracleSql,
        "multimodal_bmp_features" -> graft.operators.Bmp.bmpFeaturesOracleSql,
        "multimodal_bmp_resize" -> graft.operators.Bmp.bmpResizeOracleSql,
        "multimodal_png_stats" -> graft.operators.Png.pngStatsOracleSql,
        "multimodal_image_dhash" -> graft.operators.Bmp.imageDhashOracleSql,
        "multimodal_audio_fp" -> graft.operators.Wav.audioFingerprintOracleSql,
        "wm_recover_registry" -> duckGen.wmRecoverRegistrySql(None),
        "vec_graph_append" -> duckGen.graphAppendSql(None),
        "vec_graph_compact" -> duckGen.graphCompactSql(None),
        "vec_topk_ivfpq_res" -> duckGen.ivfPqResSql(None),
        "vec_ivfpq_res_distortion" -> duckGen.ivfPqResDistortionSql(None),
        "dedup_components" -> duckGen.dedupComponentsSql(None),
        "dedup_apply" -> duckGen.dedupApplySql(None),
        "dedup_cluster_rep" -> duckGen.dedupClusterRepSql(None),
        "dedup_quality_impact" -> duckGen.dedupQualityImpactSql(None),
        "dedup_cross_source" -> duckGen.dedupCrossSourceSql(None),
        "dedup_upsert" -> duckGen.dedupUpsertSql(None, None),
        "dedup_upsert_minhash" -> duckGen.dedupUpsertMinhashSql(None, None),
        "dedup_jaccard" -> duckGen.dedupJaccardSql(None),
        "dedup_containment" -> duckGen.dedupContainmentSql(None),
        "vec_mmr" -> duckGen.mmrSql(None),
        // the native aggregate must reproduce the SQL sketch exactly,
        // so its oracle IS the by-source SQL rendering
        "sketch_distinct_native" -> duckGen.sql("sketch_distinct_by_source"),
        // the native CMS grid must reproduce the SQL grid exactly
        // (integer counts, same PRF rows), so its oracle IS the SQL
        // point-query rendering
        "sketch_cms_native" -> duckGen.sql("sketch_cms"),
        // the native bottom-k set must reproduce the SQL k-min
        // shortlist exactly, so its oracle is the k=64 window rendering
        "sketch_kmv_native" -> duckGen.kmvSql(Seq(64)),
        // the native aggregate must reproduce the window ranking
        // exactly, so its oracle is the window rendering
        "vec_topk_grouped" -> duckGen.groupedTopkSql(),
        "graph_modularity" -> duckGen.graphModularitySql(None),
        "graph_conductance" -> duckGen.graphConductanceSql(None),
        "events_attribution_markov" -> duckGen.markovAttributionSql(None),
        "text_bpe_encode" -> duckGen.bpeEncodeSql(None),
        "text_bpe_fertility" -> duckGen.bpeFertilitySql(None),
        "minhash_band_curve" -> duckGen.minhashCurveSql(None),
        "search_rerank_agreement" -> duckGen.rerankAgreementSql(None),
        "dedup_tier_eval" -> duckGen.dedupTierEvalSql(None))
}
