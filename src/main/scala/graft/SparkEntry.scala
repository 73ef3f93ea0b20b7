package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.Similarity
import graft.functions.Scalars
import graft.operators.{Relational, Windows}
import graft.text.{Bpe, Curation, Dedup, Fuzzy, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is an operator family from SURVEY §2 (or a
  * training-data-pipeline op) expressed Spark-first; `oracleSql` holds
  * the DuckDB-equivalent SQL the driver hash-compares against at
  * sf0.01. Column names are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3Revenue(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 aggregations
    "q1_agg" -> (Relational.q1Agg _),
    "q_stats_agg" -> (Relational.statsAgg _),
    "q_minmax_extent" -> (Relational.minMaxExtent _),
    "q_count_group" -> (Relational.countGroup _),
    // §2.2 filters / predicates
    "q_like_scan" -> (Relational.likeScan _),
    "q_temporal_filter" -> (Relational.temporalFilter _),
    "q_case_when" -> (Relational.caseWhen _),
    "q_json_extract" -> (Relational.jsonExtract _),
    // §2.3 joins
    "q_meta_join" -> (Relational.metaJoin _),
    "q_anti_join" -> (Relational.antiJoin _),
    "q_semi_join" -> (Relational.semiJoin _),
    "q_full_outer" -> (Relational.fullOuter _),
    "q_q3_revenue" -> (Relational.q3Revenue _),
    "q_delta_adds" -> (Relational.deltaAddsQuery _),
    "q_delta_removes" -> (Relational.deltaRemovesQuery _),
    "q_status" -> (Relational.statusQuery _),
    "q_folder_repair" -> (Relational.folderRepairQuery _),
    "q_apply_delta" -> (Relational.applyDeltaQuery _),
    "q_meta_list" -> (Relational.metaListQuery _),
    "q_stac_page" -> (Relational.stacPageQuery _),
    // ◇ raster kernels under the oracle
    "q_volume" -> (graft.raster.RasterQueries.volumeQuery _),
    "q_profile" -> (graft.raster.RasterQueries.profileQuery _),
    "q_rescale" -> (graft.raster.RasterQueries.rescaleQuery _),
    "q_colormap" -> (graft.raster.RasterQueries.colormapQuery _),
    "q_plane_fit" -> (graft.raster.RasterQueries.planeFitQuery _),
    "q_extent_union" -> (graft.geo.GeoQueries.extentUnionQuery _),
    "q_tag_parse" -> (graft.core.Tags.tagParseQuery _),
    "q_password" -> (graft.core.Tags.passwordQuery _),
    "q_sha256" -> (TextOps.contentDigestQuery _),
    "q_geojson_bbox" -> (Scalars.geojsonBboxQuery _),
    "q_iso_format" -> (Scalars.isoFormatQuery _),
    "q_stamp_checksum" -> (Relational.stampChecksumQuery _),
    "q_meta_json" -> (Relational.metaJsonQuery _),
    "q_dim_rollup" -> (Relational.dimRollup _),
    "q_sensor_focal" -> (graft.sources.SensorData.sensorFocalQuery _),
    "q_timezone" -> (graft.sources.Timezone.timezoneQuery _),
    // §2.5 sorts / paging / top-k
    "q_paging" -> (Relational.paging _),
    "q_topk" -> (Relational.topK _),
    "q_window_top" -> (Relational.windowTopPerKey _),
    // §2.6 set ops
    "q_except" -> (Relational.exceptIds _),
    "q_union_dedup" -> (Relational.unionDedup _),
    "q_distinct" -> (Relational.distinctSegments _),
    // §2.9 streaming (batch shape)
    "q_hourly" -> (Relational.hourlyRollup _),
    // §2.8 windows / analytics
    "q_rollup" -> (Windows.rollupQuery _),
    "q_cube" -> (Windows.cubeQuery _),
    "q_pivot" -> (Windows.pivotQuery _),
    "q_percentiles" -> (Windows.percentilesQuery _),
    "q_lag_delta" -> (Windows.lagDeltaQuery _),
    "q_cumsum" -> (Windows.cumsumQuery _),
    "q_sessionize" -> (Windows.sessionizeQuery _),
    "q_asof_join" -> (Windows.asofJoinQuery _),
    "q_gapfill" -> (Windows.gapfillQuery _),
    "q_trailing_window" -> (Windows.trailingWindowQuery _),
    "q_anomaly" -> (Windows.anomalyQuery _),
    "q_incr_agg" -> ((s: SparkSession, d: String) => graft.operators.Incremental.incrAggQuery(s, d)),
    "q_funnel" -> (Windows.funnelQuery _),
    "q_retention" -> (Windows.retentionQuery _),
    "q_scd2" -> (Windows.scd2Query _),
    "q_skyline" -> ((s: SparkSession, d: String) => graft.operators.Skyline.skylineQuery(s, d)),
    "q_col_profile" -> (Relational.colProfileQuery _),
    "q_geofence" -> (graft.geo.Geofence.geofenceQuery _),
    "q_knn_join" -> (graft.geo.SpatialJoin.knnJoinQuery _),
    "q_transitions" -> (Windows.transitionsQuery _),
    "q_kcenter" -> ((s: SparkSession, d: String) => graft.ann.Coreset.kCenterQuery(s, d)),
    "q_covariance" -> ((s: SparkSession, d: String) => graft.ann.EmbedStats.covarianceQuery(s, d)),
    "q_pca" -> ((s: SparkSession, d: String) => graft.ann.EmbedStats.pcaQuery(s, d)),
    "q_kmeans" -> ((s: SparkSession, d: String) => graft.ann.Kmeans.kmeansQuery(s, d)),
    "q_logreg" -> ((s: SparkSession, d: String) => graft.ann.Logistic.logregQuery(s, d)),
    "q_histogram" -> (Windows.histogramQuery _),
    // §2.7 scalar functions
    "q_slugify" -> (Scalars.slugifyQuery _),
    "q_base64" -> (Scalars.base64Query _),
    "q_path_ops" -> (Scalars.pathOpsQuery _),
    "q_mime" -> (Scalars.mimeQuery _),
    "q_iso_parse" -> (Scalars.isoParseQuery _),
    "q_wkt_bbox" -> (Scalars.wktBboxQuery _),
    "q_epsg" -> (Scalars.epsgQuery _),
    "q_bytes_human" -> (Scalars.bytesHumanQuery _),
    // §2.2/§2.7 geospatial (◇ as column math)
    "q_bbox_filter" -> (graft.geo.GeoQueries.bboxFilterQuery _),
    "q_zorder" -> (graft.geo.ZOrder.zorderQuery _),
    "q_spatial_join" -> (graft.geo.SpatialJoin.spatialJoinQuery _),
    "q_dbscan" -> (graft.geo.Dbscan.dbscanQuery _),
    "q_tile_math" -> (graft.geo.GeoQueries.tileMathQuery _),
    "q_mvt" -> (graft.geo.GeoQueries.mvtQuery _),
    "q_cog" -> (graft.geo.GeoQueries.cogQuery _),
    "q_cog_read" -> (graft.geo.GeoQueries.cogReadQuery _),
    "q_tile_pyramid" -> (graft.geo.GeoQueries.tilePyramidQuery _),
    "q_crs_transform" -> (graft.geo.GeoQueries.crsTransformQuery _),
    "q_contour" -> (graft.raster.Contour.contourQuery _),
    "q_slope" -> (graft.raster.Slope.slopeQuery _),
    "q_hillshade" -> (graft.raster.Slope.hillshadeQuery _),
    "q_haversine" -> (graft.geo.GeoQueries.haversineQuery _),
    // multimodal binary-column plumbing
    "q_media_features" -> (graft.multimodal.Multimodal.mediaFeaturesQuery _),
    "q_frame_sample" -> (graft.multimodal.Multimodal.frameSampleQuery _),
    "q_phash" -> (graft.multimodal.Multimodal.phashQuery _),
    "q_resize" -> (graft.multimodal.Multimodal.resizeQuery _),
    "q_thumb" -> (graft.multimodal.Multimodal.thumbQuery _),
    "q_upsert" -> (Relational.upsertQuery _),
    // §2.7 numeric kernels (◇) under the oracle
    "q_vegetation" -> (Scalars.vegetationQuery _),
    "q_thermal" -> (Scalars.thermalQuery _),
    // text analysis
    "q_token_stats" -> (TextOps.tokenStats _),
    "q_quality_stats" -> (TextOps.qualityStats _),
    "q_lang_id" -> (TextOps.langIdQuery _),
    "q_fingerprint" -> (TextOps.fingerprintQuery _),
    "q_sample" -> (TextOps.sampleQuery _),
    "q_split" -> (TextOps.splitQuery _),
    "q_shuffle" -> (TextOps.shuffleQuery _),
    "q_mixture" -> (TextOps.mixtureQuery _),
    "q_pii" -> (TextOps.piiQuery _),
    "q_lm_score" -> (TextOps.lmScoreQuery _),
    // text analysis (cont.)
    "q_tfidf" -> (TextOps.tfidfQuery _),
    "q_pipeline" -> (TextOps.pipelineQuery _),
    // dedup family
    "q_dedup_exact" -> (Dedup.exactDupGroups _),
    "q_dedup_count" -> (Dedup.dedupCount _),
    "q_dedup_embed" -> ((s: SparkSession, d: String) => Dedup.embedNearDupExact(s, d)),
    "q_minhash" -> (Dedup.minhashQuery _),
    "q_simhash" -> (Dedup.simhashQuery _),
    "q_ngram_jaccard" -> (Dedup.ngramJaccardQuery _),
    // similarity search
    "q_ann_topk" -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    "q_ann_norm" -> (Similarity.normByLabel _),
    "q_ann_lsh" -> ((s: SparkSession, d: String) => Similarity.lshNeighbors(s, d)),
    "q_ann_lsh_hi" -> (Similarity.lshNearDupQuery _),
    "q_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.ivfQuery(s, d)),
    "q_ann_pq" -> ((s: SparkSession, d: String) => Similarity.pqQuery(s, d)),
    "q_ann_ivfpq" -> ((s: SparkSession, d: String) => Similarity.ivfPqQuery(s, d)),
    "q_ann_sq" -> ((s: SparkSession, d: String) => Similarity.sqQuery(s, d)),
    "q_ann_refine" -> (Similarity.ivfRefineQuery _),
    "q_ann_batch" -> (Similarity.batchTopKQuery _),
    // stockpile analytics (stockpile.cpp)
    "q_stockpile" -> (graft.raster.Stockpile.stockpileQuery _),
    // align estimator (align.cpp)
    "q_align" -> (graft.geo.Align.alignQuery _),
    // sensor profiles + multispectral band alignment (sensorprofile.cpp, merge_multispectral.cpp)
    "q_sensor_detect" -> (graft.raster.SensorProfiles.sensorDetectQuery _),
    "q_band_align" -> (graft.raster.SensorProfiles.bandAlignmentQuery _),
    // border mask (mask.cpp nearblack floodfill semantics)
    "q_mask" -> (graft.raster.Mask.maskQuery _),
    // corpus curation (training-data pipeline: cluster canonicalization,
    // decontamination, repetition signals, sequence packing)
    "q_dedup_cluster" -> (Curation.dedupClusterQuery _),
    "q_decontam" -> (Curation.decontamQuery _),
    "q_repetition" -> (Curation.repetitionQuery _),
    "q_pack" -> (Curation.packQuery _),
    "q_dup_spans" -> (Curation.dupSpansQuery _),
    "q_cut_spans" -> (Curation.cutSpansQuery _),
    "q_cut_runs" -> (Curation.cutRunsQuery _),
    "q_suffix_dedup" -> (graft.text.SuffixDedup.suffixDedupQuery _),
    "q_zst" -> (graft.sources.ZstdSeek.zstQuery _),
    "q_wds" -> (graft.sources.Tar.wdsQuery _),
    "q_brotli" -> (graft.text.Brotli.brotliQuery _),
    "q_xz" -> (graft.sources.Xz.xzQuery _),
    "q_lz4" -> (graft.sources.Lz4.lz4Query _),
    "q_snappy" -> (graft.sources.Snappy.snappyQuery _),
    "q_zip" -> (graft.sources.Zip.zipQuery _),
    "q_7z" -> (graft.sources.SevenZip.sevenZipQuery _),
    "q_arrow" -> (graft.sources.ArrowIpc.arrowQuery _),
    "q_avro" -> (graft.sources.AvroOcf.avroQuery _),
    "q_seqfile" -> (graft.sources.SeqFile.seqFileQuery _),
    "q_zstd_dict" -> (graft.sources.ZstdDict.dictQuery _),
    "q_parquet_meta" -> (graft.sources.ParquetMeta.metaQuery _),
    "q_orc_meta" -> (graft.sources.OrcMeta.metaQuery _),
    "q_orc_read" -> (graft.sources.OrcMeta.readQuery _),
    "q_parquet_read" -> (graft.sources.ParquetMeta.readQuery _),
    "q_npz" -> (graft.sources.Npy.npzQuery _),
    "q_safetensors" -> (graft.sources.Safetensors.safetensorsQuery _),
    "q_tfrecord" -> (graft.sources.TfRecord.tfRecordQuery _),
    "q_topojson" -> (graft.sources.TopoJson.topoQuery _),
    "q_bz2" -> (graft.sources.Bzip2.bz2Query _),
    "q_warc_zst" -> (graft.sources.WarcZst.warcZstQuery _),
    "q_shards" -> (graft.sources.TextShards.shardsQuery _),
    "q_bloom" -> ((s: SparkSession, d: String) => graft.operators.Bloom.bloomQuery(s, d)),
    "q_roaring" -> ((s: SparkSession, d: String) => graft.operators.Roaring.bitmapQuery(s, d)),
    "q_hll" -> ((s: SparkSession, d: String) => graft.operators.Hll.hllQuery(s, d)),
    "q_pagerank" -> ((s: SparkSession, d: String) => graft.operators.Graph.pageRankQuery(s, d)),
    "q_random_walk" -> ((s: SparkSession, d: String) => graft.operators.Graph.randomWalkQuery(s, d)),
    "q_label_prop" -> ((s: SparkSession, d: String) => graft.operators.Graph.labelPropQuery(s, d)),
    "q_triangles" -> ((s: SparkSession, d: String) => graft.operators.Graph.trianglesQuery(s, d)),
    "q_kcore" -> ((s: SparkSession, d: String) => graft.operators.Graph.kCoreQuery(s, d)),
    "q_bpe" -> ((s: SparkSession, d: String) => Bpe.trainBpe(s, Tables.documents(s, d), "text", 8)),
    "q_reservoir" -> ((s: SparkSession, d: String) => graft.operators.Reservoir.reservoirQuery(s, d)),
    "q_cmsketch" -> ((s: SparkSession, d: String) => graft.operators.CountMin.cmQuery(s, d)),
    "q_theta" -> ((s: SparkSession, d: String) => graft.operators.Theta.thetaQuery(s, d)),
    "q_priority" -> ((s: SparkSession, d: String) => graft.operators.Priority.priorityQuery(s, d)),
    "q_interval_join" -> ((s: SparkSession, d: String) => graft.operators.IntervalJoin.intervalQuery(s, d)),
    "q_bloom_join" -> ((s: SparkSession, d: String) => graft.operators.Bloom.bloomJoinQuery(s, d)),
    "q_salted_agg" -> ((s: SparkSession, d: String) => graft.operators.Skew.saltedAggQuery(s, d)),
    "q_salted_join" -> ((s: SparkSession, d: String) => graft.operators.Skew.saltedJoinQuery(s, d)),
    "q_fuzzy_join" -> (Fuzzy.fuzzyJoinQuery _),
    "q_entity_resolution" -> (Fuzzy.entityResolutionQuery _),
    "q_bm25" -> (TextOps.bm25Query _),
    "q_compaction" -> ((s: SparkSession, d: String) => graft.operators.Compaction.compactionQuery(s, d)),
    "q_cluster_sample" -> (Curation.clusterSampleQuery _),
    "q_semdedup" -> (Curation.semDedupQuery _),
    "q_weighted_sample" -> (Curation.weightedSampleQuery _),
    "q_curate" -> (Curation.curateQuery _),
    "q_qsketch" -> ((s: SparkSession, d: String) => graft.operators.QSketch.qsketchQuery(s, d)),
    "q_resample" -> (graft.raster.Resample.resampleQuery _),
    "q_resample_cubic" -> (graft.raster.Resample.resampleCubicQuery _),
    "q_split_strat" -> (TextOps.stratifiedSplitQuery _),
    "q_chunk" -> (graft.text.Chunking.chunkQuery _),
    "q_cdc" -> (graft.text.Chunking.cdcQuery _),
    "q_laz" -> (graft.sources.Laz.lazQuery _),
    "q_laz14" -> (graft.sources.Laz14.laz14Query _),
    "q_pctiler" -> (graft.geo.PcTiler.pctilerQuery _),
    "q_ddb" -> (graft.sources.Ddb.ddbQuery _),
    "q_tiepoints" -> (graft.geo.TiePoints.tiepointsQuery _),
    "q_geoproject" -> (graft.raster.Warp.geoprojectQuery _),
    "q_ply" -> (graft.sources.Ply.plyQuery _),
    "q_kn_lm" -> (graft.text.Importance.knLmQuery _),
    "q_dsir" -> (graft.text.Importance.dsirQuery _),
    "q_splat" -> (graft.multimodal.Splats.splatQuery _),
    "q_e57" -> (graft.sources.E57.e57Query _),
    "q_tiles3d" -> (graft.sources.Tiles3d.tiles3dQuery _),
    "q_lod" -> (graft.sources.MeshLod.lodQuery _),
    "q_nexus" -> (graft.sources.Nexus.nexusQuery _),
    "q_flac" -> (graft.multimodal.FlacQueries.audioCodecQuery _),
    "q_vorbis" -> (graft.multimodal.Vorbis.vorbisQuery _),
    "q_jp2" -> (graft.raster.Jp2.jp2Query _),
    "q_jp2_lossy" -> (graft.raster.Jp2.jp2LossyQuery _),
    "q_h264" -> (graft.multimodal.H264Queries.h264Query _),
    "q_gif" -> (graft.raster.GifBmp.gifQuery _),
    "q_webp" -> (graft.raster.Webp.webpQuery _),
    "q_url_canon" -> (graft.text.UrlCanon.urlCanonQuery _),
    "q_html" -> (graft.text.HtmlExtract.htmlQuery _),
    "q_gopher" -> (TextOps.gopherQuery _),
    "q_warc" -> (graft.sources.Warc.warcQuery _),
    "q_wet" -> (graft.sources.Wet.wetQuery _),
    "q_wat" -> (graft.sources.Wet.watQuery _),
    "q_cdx" -> (graft.sources.Cdx.cdxQuery _),
    "q_robots" -> (graft.text.Robots.robotsQuery _),
    "q_unigram" -> ((s: SparkSession, d: String) => graft.text.Unigram.unigramQuery(s, d))
  )

  /** Generated minhash oracle: same md5→GF(p) hash, same k linear
    * permutations (constants from `Dedup.minhashA/B`), same r=1 banding
    * semantics (pair match-count from the melted signature). */
  /** Shared CTE chain ending at `pairs` (the ≥-threshold MinHash
    * candidate pairs) — the base of both the q_minhash oracle and the
    * q_dedup_cluster closure oracle. */
  private def minhashCtes(base: String = "documents"): String = {
    val k = 16
    val p = Dedup.MinhashP
    val sigCols = (0 until k)
      .map(i => s"    min((${Dedup.minhashA(i)} * hp + ${Dedup.minhashB(i)}) % $p) AS s$i")
      .mkString(",\n")
    val sigList = (0 until k).map(i => s"s$i").mkString(", ")
    s"""sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS shingle
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM $base)
       |  WHERE len(t) >= 3),
       |h AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $p AS hp FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |$sigCols
       |  FROM h GROUP BY doc_id),
       |inv AS (
       |  SELECT doc_id, unnest(range($k)) AS i, unnest([$sigList]) AS v FROM sig),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS m
       |  FROM inv a JOIN inv b ON a.i = b.i AND a.v = b.v AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) / $k.0 >= 0.5)""".stripMargin
  }

  /** Shared CTE chain ending at `asg` (deterministic IVF cell
    * assignment: seed centroids = vec_id < 8, nearest cell, tie →
    * lowest cell) — base of the q_ann_ivf oracle and the
    * q_cluster_sample oracle. */
  private def ivfAsgCtes: String =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cent AS (SELECT vec_id AS cell_id, e AS c FROM v WHERE vec_id < 8),
      |d AS (
      |  SELECT v.vec_id, cent.cell_id,
      |    list_sum([(v.e[i] - cent.c[i]) * (v.e[i] - cent.c[i]) for i in range(1, 65)]) AS dist
      |  FROM v, cent),
      |asg AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT vec_id, cell_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rk
      |    FROM d) WHERE rk = 1)""".stripMargin

  private def minhashOracle: String =
    s"""WITH ${minhashCtes()}
       |SELECT id_a, id_b, round(m / 16.0, 4) AS est_jaccard FROM pairs""".stripMargin

  /** Cluster-canonicalization oracle: the MinHash pair CTEs + a
    * recursive min-label reachability closure — DuckDB recomputes the
    * identical component labels (MIN member id) the Spark fixpoint
    * converges to. */
  /** Pair CTEs → min-label closure (`labels`) — shared by the cluster
    * summary oracle and the end-to-end curation oracle. */
  private def clusterLabelCtes(base: String = "documents"): String =
    s"""${minhashCtes(base)},
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |labels AS (
       |  WITH RECURSIVE reach AS (
       |    SELECT src AS id, src AS lab FROM edges
       |    UNION
       |    SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id)
       |  SELECT id, min(lab) AS lab FROM reach GROUP BY id)""".stripMargin

  private def clusterOracle: String =
    s"""WITH ${clusterLabelCtes()}
       |SELECT lab AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(id) AS BIGINT) AS member_id_sum
       |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  /** End-to-end curation oracle: eval holdout + token gate +
    * decontamination build the `base` corpus, the shared cluster
    * closure runs OVER that base, and the final rollup drops cluster
    * non-keepers — each stage the SQL mirror of the operator it
    * composes. */
  private def curateOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, text,
       |    len(regexp_extract_all(lower(text), '\\w+')) AS n_tok,
       |    doc_id % 10 = 7 AS is_eval
       |  FROM documents),
       |sh8 AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)])) AS shingle
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents)
       |  WHERE len(t) >= 8),
       |h8 AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh8),
       |ev AS (SELECT DISTINCT h FROM h8 JOIN tok USING (doc_id) WHERE tok.is_eval),
       |contaminated AS (
       |  SELECT DISTINCT h8.doc_id FROM h8 JOIN ev USING (h) JOIN tok USING (doc_id)
       |  WHERE NOT tok.is_eval),
       |base AS (
       |  SELECT doc_id, source, text, n_tok FROM tok
       |  WHERE NOT is_eval AND n_tok >= 8
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |${clusterLabelCtes("base")},
       |drops AS (SELECT id AS doc_id FROM labels WHERE id <> lab)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM base WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Generated simhash oracle: 60 bit-vote sums over the md5-derived
    * token hash, sign → bit, brute-force Hamming verify (the Spark side
    * prunes by 15-bit blocks; blocking is provably complete for
    * Hamming ≤ 3, so the result sets are identical). */
  private def simhashOracle: String = {
    val votes = (0 until 60).map(j => s"    sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(",\n")
    val bits = (0 until 60).map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS t FROM documents),
       |th AS (
       |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |$votes
       |  FROM th GROUP BY doc_id),
       |sig AS (
       |  SELECT d.doc_id, CAST($bits AS BIGINT) AS sg
       |  FROM documents d LEFT JOIN votes ON votes.doc_id = d.doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sg, b.sg)) AS INT) AS hamming
       |FROM sig a, sig b
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sg, b.sg)) <= 3""".stripMargin
  }

  /** Generated LSH oracle: identical md5-derived plane matrix
    * (`Similarity.planeEntry`), sign-bit buckets per table, candidate =
    * any shared (table, bucket), exact-cosine verify at the same
    * threshold. Deterministic planes are what make an LSH result
    * oracle-checkable at all. */
  private def lshOracle: String = lshOracleAt(tables = 16, nBits = 6, minCos = 0.35, planted = false)

  /** The near-dup regime (big buckets, few tables, θ=0.9) over the
    * corpus + deterministic planted copies — see
    * `Similarity.lshNearDupQuery`. */
  private def lshHiOracle: String = lshOracleAt(tables = 8, nBits = 16, minCos = 0.9, planted = true)

  private def lshOracleAt(tables: Int, nBits: Int, minCos: Double, planted: Boolean): String = {
    val corpus =
      if (!planted) "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings"
      else
        """SELECT vec_id, e FROM base
          |  UNION ALL
          |  SELECT vec_id + 10000, [e[i] + CASE WHEN i = 1 THEN 0.1 ELSE 0 END for i in range(1, 65)]
          |  FROM base WHERE vec_id % 25 = 0""".stripMargin
    val baseCte =
      if (planted) "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),\n" else ""
    s"""WITH planes AS (
       |  SELECT t, b, j,
       |    (('0x' || substr(md5(t || ':' || b || ':' || j), 1, 15))::BIGINT % 2000001 - 1000000) / 1000000.0 AS w
       |  FROM range($tables) r1(t), range($nBits) r2(b), range(64) r3(j)),
       |${baseCte}v AS ($corpus),
       |dots AS (
       |  SELECT vec_id, t, b, sum(e[j + 1] * w) AS d
       |  FROM v, planes GROUP BY vec_id, t, b),
       |buckets AS (
       |  SELECT vec_id, t, CAST(sum(CASE WHEN round(d, 12) >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, t),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
       |  FROM buckets a JOIN buckets b2 ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
       |scored AS (
       |  SELECT ia, ib,
       |    list_cosine_similarity(va.e, vb.e) AS cs
       |  FROM cand JOIN v va ON va.vec_id = ia JOIN v vb ON vb.vec_id = ib)
       |SELECT ia AS id_a, ib AS id_b, round(cs, 6) AS cos_sim
       |FROM scored WHERE cs >= $minCos""".stripMargin
  }

  /** Generated CRS oracle: Lambert Conformal Conic 2SP forward +
    * 4-iteration unrolled inverse with the SAME projection constants
    * (shortest-repr doubles) interpolated into both engines — see
    * `GeoQueries.crsTransformQuery`. */
  private def crsOracle: String = {
    val p = graft.geo.Crs.forEpsg(31370).get.asInstanceOf[graft.geo.Crs.LambertConformalConic2SP]
    val e = p.ell.e; val aF = p.ell.a * p.bigF; val n = p.n
    val fe = p.fe; val fn = p.fn; val lon0 = p.lon0; val r0 = p.r0
    val eHalf = e / 2; val invN = 1.0 / n
    def it(prev: String): String =
      s"pi() / 2 - 2.0 * atan(tp * power((1.0 - $e * sin($prev)) / (1.0 + $e * sin($prev)), $eHalf))"
    s"""WITH pts AS (SELECT DISTINCT event_id % 25 AS pt_id FROM events),
       |g AS (
       |  SELECT pt_id, 2.6 + pt_id * 0.15 AS lon, 49.6 + ((pt_id * 7) % 25) * 0.08 AS lat
       |  FROM pts),
       |f AS (
       |  SELECT pt_id,
       |    $aF * power(tan(pi() / 4 - (lat * pi() / 180.0) / 2)
       |      / power((1.0 - $e * sin(lat * pi() / 180.0)) / (1.0 + $e * sin(lat * pi() / 180.0)), $eHalf), $n) AS r,
       |    $n * ((lon - $lon0) * pi() / 180.0) AS theta
       |  FROM g),
       |prj AS (
       |  SELECT pt_id, $fe + r * sin(theta) AS easting, $fn + $r0 - r * cos(theta) AS northing
       |  FROM f),
       |d AS (
       |  SELECT pt_id, easting, northing, easting - $fe AS dx, $r0 - (northing - $fn) AS dy
       |  FROM prj),
       |i0 AS (SELECT *, power(sqrt(dx * dx + dy * dy) / $aF, $invN) AS tp FROM d),
       |i1 AS (SELECT *, pi() / 2 - 2.0 * atan(tp) AS p0 FROM i0),
       |i2 AS (SELECT *, ${it("p0")} AS p1 FROM i1),
       |i3 AS (SELECT *, ${it("p1")} AS p2 FROM i2),
       |i4 AS (SELECT *, ${it("p2")} AS p3 FROM i3),
       |i5 AS (SELECT *, ${it("p3")} AS p4 FROM i4)
       |SELECT pt_id, round(easting, 3) AS easting, round(northing, 3) AS northing,
       |  round((atan2(dx, dy) / $n) * 180.0 / pi() + $lon0, 6) AS lon_rt,
       |  round(p4 * 180.0 / pi(), 6) AS lat_rt
       |FROM i5""".stripMargin
  }

  /** Generated colormap oracle: same stop arrays as
    * `Vegetation.colormaps("rdylgn")`, nearest-stop index, 1-based
    * element lookup on both engines. */
  private def colormapOracle: String = {
    val stops = graft.raster.Vegetation.colormaps("rdylgn")
    val n = stops.size
    val rs = stops.map(_._1).mkString("[", ", ", "]")
    val gs = stops.map(_._2).mkString("[", ", ", "]")
    val bs = stops.map(_._3).mkString("[", ", ", "]")
    s"""WITH vals AS (SELECT (event_id % 101) / 100.0 AS v FROM events),
       |ix AS (SELECT least(${n - 1}, greatest(0, CAST(round(v * ${n - 1}) AS INT))) + 1 AS i FROM vals)
       |SELECT $rs[i] AS r, $gs[i] AS g, $bs[i] AS b, CAST(count(*) AS BIGINT) AS n
       |FROM ix GROUP BY 1, 2, 3""".stripMargin
  }

  /** Generated PageRank oracle: DuckDB replays the identical 10
    * integer-arithmetic rounds of `Graph.pageRank` as a MATERIALIZED
    * CTE chain (materialization is semantically a no-op but without it
    * each round's double reference re-expands the chain — exponential).
    * All intermediate sums ride DuckDB HUGEINT (exact); the final rank
    * casts back to BIGINT to match Spark's long. Constants are the
    * pageRank defaults: scale 10^12, n=500, damping 85/100. */
  /** Generated random-walk oracle: same events graph as pageRank, one
    * CTE per step — the walk rule (neighbor ranked md5-60 mod degree,
    * dst order, dangling holds position) is pure integer/string math
    * both engines share. */
  private def randomWalkOracle: String = {
    val steps = (0 until 4)
      .map { t =>
        s"""w${t + 1} AS (
           |  SELECT start, coalesce(re.dst, w$t.v) AS v
           |  FROM w$t LEFT JOIN re ON re.src = w$t.v
           |    AND re.rk = ('0x' || substr(md5('rw:' || start || ':$t:' || w$t.v), 1, 15))::BIGINT % re.deg)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT event_id % 500 AS src, (event_id*7919) % 500 AS dst
       |  FROM events WHERE event_id % 500 <> (event_id*7919) % 500),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |re AS (
       |  SELECT edges.src, edges.dst, deg.deg,
       |    row_number() OVER (PARTITION BY edges.src ORDER BY edges.dst) - 1 AS rk
       |  FROM edges JOIN deg USING (src)),
       |w0 AS (SELECT range AS start, range AS v FROM range(0, 500)),
       |$steps
       |SELECT w0.start AS start, w1.v AS s1, w2.v AS s2, w3.v AS s3, w4.v AS s4
       |FROM w0 JOIN w1 USING (start) JOIN w2 USING (start)
       |  JOIN w3 USING (start) JOIN w4 USING (start)""".stripMargin
  }

  /** Generated k-center oracle: Gonzalez greedy unrolled — round t
    * takes the argmax of the 4dp-rounded min distance (ties to the
    * smaller vec_id), exactly the Spark rule. */
  private def kCenterOracle: String = {
    val k = 8
    def d2(a: String, b: String) =
      s"round(list_sum([($a.e[i] - $b.e[i]) * ($a.e[i] - $b.e[i]) for i in range(1, 65)]), 4)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
      "c1 AS (SELECT vec_id, e FROM v WHERE vec_id = (SELECT min(vec_id) FROM v))",
      s"d1 AS (SELECT v.vec_id, v.e, ${d2("v", "c")} AS md FROM v, c1 c)"
    )
    val picks = scala.collection.mutable.ArrayBuffer(
      "SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(0.0 AS DOUBLE) AS dist FROM c1"
    )
    for (t <- 2 to k) {
      ctes += s"s$t AS (SELECT vec_id, e, md FROM d${t - 1} ORDER BY md DESC, vec_id LIMIT 1)"
      picks += s"SELECT CAST($t AS BIGINT) AS rank, vec_id, md AS dist FROM s$t"
      if (t < k)
        ctes += s"d$t AS (SELECT d.vec_id, d.e, least(d.md, ${d2("d", "c")}) AS md FROM d${t - 1} d, s$t c)"
    }
    "WITH " + ctes.mkString(",\n") + "\n" + picks.mkString(" UNION ALL ")
  }

  /** Generated logistic-regression oracle: 8 GD rounds as MATERIALIZED
    * CTEs. Only the gradient sums round (6dp — absorbing sum-order and
    * exp last-ulp noise); the weight updates and the final linear-term
    * predictions are identical IEEE arithmetic, and the accuracy gate
    * compares z > 0, never the sigmoid. */
  private def logregOracle: String = {
    val iters = 8
    val rounds = (1 to iters)
      .map { t =>
        s"""g$t AS MATERIALIZED (
           |  SELECT round(sum(p - y), 6) AS ga, round(sum((p - y) * x1), 6) AS gb,
           |         round(sum((p - y) * x2), 6) AS gc
           |  FROM (SELECT d.y, d.x1, d.x2,
           |          1.0 / (1.0 + exp(-(w.a + w.b * d.x1 + w.c * d.x2))) AS p
           |        FROM d, w${t - 1} w)),
           |w$t AS MATERIALIZED (
           |  SELECT w.a - 10.0 * g.ga / n.n AS a, w.b - 10.0 * g.gb / n.n AS b,
           |         w.c - 10.0 * g.gc / n.n AS c
           |  FROM w${t - 1} w, g$t g, n)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH d AS (
       |  SELECT CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS y,
       |         value / 100.0 AS x1, (event_id % 1000) / 1000.0 AS x2
       |  FROM events),
       |n AS (SELECT count(*) AS n FROM d),
       |w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c),
       |$rounds
       |SELECT round(w.a, 10) AS w0, round(w.b, 10) AS w1, round(w.c, 10) AS w2,
       |  CAST(sum(CASE WHEN ((w.a + w.b * d.x1 + w.c * d.x2) > 0) = (d.y = 1.0)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN ((w.a + w.b * d.x1 + w.c * d.x2) > 0) = (d.y = 1.0)
       |      THEN 1 ELSE 0 END) AS BIGINT) / (SELECT n FROM n) AS accuracy
       |FROM d, w$iters w GROUP BY 1, 2, 3""".stripMargin
  }

  /** Generated geofence oracle: the same ring as
    * `Geofence.TestRing`, each edge's crossing term unrolled with the
    * x-intersect division cleared by cross-multiplication — pure
    * integer arithmetic on both engines, exact by construction. */
  private def geofenceOracle: String = {
    val ring = graft.geo.Geofence.TestRing
    val terms = ring.indices.map { i =>
      val (x1, y1) = ring(i)
      val (x2, y2) = ring((i + 1) % ring.size)
      val c = s"((px - ($x1)) * (${y2 - y1}) - (py - ($y1)) * (${x2 - x1}))"
      val rightOf = if (y2 > y1) s"$c < 0" else s"$c > 0"
      s"CASE WHEN (($y1 > py) <> ($y2 > py)) AND ($rightOf) THEN 1 ELSE 0 END"
    }
    s"""WITH pts AS (SELECT event_type,
       |    event_id * 7919 % 36000 - 18000 AS px,
       |    event_id * 104729 % 18000 - 9000 AS py FROM events),
       |ins AS (SELECT event_type, (${terms.mkString("\n  + ")}) % 2 = 1 AS inside FROM pts)
       |SELECT event_type, count(*) AS n_total,
       |  CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       |  CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS share_inside
       |FROM ins GROUP BY 1""".stripMargin
  }

  /** Generated k-core oracle: the md5-skewed attachment graph, then 8
    * synchronous peeling rounds as MATERIALIZED CTEs — each round is
    * two survivor semi-joins + a keyed count, survivors = degree ≥ k;
    * the final row set is the surviving nodes with their within-core
    * degree. Pure integer/string math shared by both engines. */
  private def kCoreOracle: String = {
    val k = 20
    val rounds = 8
    val ctes = scala.collection.mutable.ArrayBuffer(
      """e0 AS (SELECT ('0x'||substr(md5('ks:'||event_id),1,15))::BIGINT % 500 AS src,
        |  ('0x'||substr(md5('kd:'||event_id),1,15))::BIGINT AS h2 FROM events)""".stripMargin,
      "ed AS (SELECT DISTINCT src, h2 % (src + 1) AS dst FROM e0 WHERE src <> h2 % (src + 1))",
      "sym AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed)",
      "s0 AS (SELECT DISTINCT src AS id FROM sym)"
    )
    for (t <- 1 to rounds) {
      ctes += s"""d$t AS (SELECT sym.src, count(*) AS d FROM sym
                 |  JOIN s${t - 1} a ON sym.src = a.id JOIN s${t - 1} b ON sym.dst = b.id GROUP BY 1)""".stripMargin
      ctes += s"s$t AS MATERIALIZED (SELECT src AS id FROM d$t WHERE d >= $k)"
    }
    "WITH " + ctes.mkString(",\n") +
      s"""
         |SELECT sym.src AS node, count(*) AS core_deg FROM sym
         |JOIN s$rounds a ON sym.src = a.id JOIN s$rounds b ON sym.dst = b.id GROUP BY 1""".stripMargin
  }

  /** Generated k-means oracle: DuckDB replays Lloyd's rounds as a
    * MATERIALIZED CTE chain — per round an n×k distance join (the
    * Spark side is map-only against literal centroids; same values),
    * a row_number argmin with ties to the smaller cluster, and
    * per-dim means derived from the ALREADY-ROUNDED sum
    * (round(round(sum,4)/n, 8)) so both engines divide bit-identical
    * inputs. Seeds are the k lowest vec_ids; empty clusters keep
    * their previous centroid via the left-join coalesce. */
  private def kmeansOracle: String = {
    val k = 8
    val iters = 5
    val d2 = "round(list_sum([(v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]) for i in range(1, 65)]), 4)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
      "dims AS (SELECT unnest(range(1, 65)) AS i)",
      s"""c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, e AS ce
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $k))""".stripMargin
    )
    for (r <- 1 to iters) {
      ctes += s"d$r AS (SELECT v.vec_id, v.e, c.c, $d2 AS dist FROM v, c${r - 1} c)"
      ctes += s"""a$r AS MATERIALIZED (
                 |  SELECT vec_id, e, c, dist FROM (
                 |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
                 |    FROM d$r) WHERE rn = 1)""".stripMargin
      if (r < iters) {
        ctes += s"""m$r AS (
                   |  SELECT c, dims.i AS i, round(round(sum(e[dims.i]), 4) / count(*), 8) AS x
                   |  FROM a$r, dims GROUP BY 1, 2)""".stripMargin
        ctes += s"""c$r AS MATERIALIZED (
                   |  SELECT p.c, coalesce(g.ce, p.ce) AS ce FROM c${r - 1} p
                   |  LEFT JOIN (SELECT c, list(x ORDER BY i) AS ce FROM m$r GROUP BY c) g ON g.c = p.c)""".stripMargin
      }
    }
    "WITH " + ctes.mkString(",\n") +
      s"""
         |SELECT c AS cluster, count(*) AS n_points, round(sum(dist), 4) + 0.0 AS inertia
         |FROM a$iters GROUP BY c""".stripMargin
  }

  /** Generated PCA oracle: the q_covariance matrix (rounded, mirrored
    * to full), then 10 power iterations — matvec, norm, normalize,
    * round to 8dp so both engines carry bit-identical vectors into the
    * next round (float twin of the pageRank integer trick). */
  private def pcaOracle: String = {
    val iters = 10
    val rounds = (1 to iters)
      .map { t =>
        s"""w$t AS MATERIALIZED (
           |  SELECT cov.i, sum(cov.c * v${t - 1}.x) AS w
           |  FROM cov JOIN v${t - 1} ON cov.j = v${t - 1}.i GROUP BY cov.i),
           |n$t AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w$t),
           |v$t AS MATERIALIZED (SELECT i, round(w / (SELECT nrm FROM n$t), 8) AS x FROM w$t)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS (SELECT count(*) AS n FROM v),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |pairs AS (SELECT a.i AS i, b.i AS j FROM dims a, dims b WHERE b.i >= a.i),
       |prods AS (SELECT i, j, sum(e[i] * e[j]) AS sij FROM v, pairs GROUP BY i, j),
       |sums AS (SELECT i, sum(e[i]) AS si FROM v, dims GROUP BY i),
       |ut AS (
       |  SELECT p.i, p.j, round((sij - sa.si * sb.si / n.n) / (n.n - 1), 6) + 0.0 AS c
       |  FROM prods p JOIN sums sa ON p.i = sa.i JOIN sums sb ON p.j = sb.i CROSS JOIN n),
       |cov AS MATERIALIZED (
       |  SELECT i, j, c FROM ut UNION ALL SELECT j AS i, i AS j, c FROM ut WHERE i <> j),
       |v0 AS (SELECT i, 0.125 AS x FROM dims),
       |$rounds
       |SELECT i, round(x, 6) + 0.0 AS loading,
       |  (SELECT round(nrm, 4) FROM n$iters) AS eigenvalue FROM v$iters""".stripMargin
  }

  /** Generated LPA oracle: 5 synchronous rounds, each one grouped
    * neighbor-label count + deterministic top-1 (count desc, label
    * asc) + left join back — the exact Spark rule. MATERIALIZED CTEs
    * for the same double-reference reason as pageRank. */
  private def labelPropOracle: String = {
    val rounds = (0 until 5)
      .map { t =>
        s"""t${t + 1} AS MATERIALIZED (
           |  SELECT sym.src AS id, l.lab, count(*) AS cnt
           |  FROM sym JOIN l$t l ON sym.dst = l.id GROUP BY 1, 2),
           |p${t + 1} AS MATERIALIZED (
           |  SELECT id, lab FROM (
           |    SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rk
           |    FROM t${t + 1}) WHERE rk = 1),
           |l${t + 1} AS MATERIALIZED (
           |  SELECT l.id, coalesce(p.lab, l.lab) AS lab
           |  FROM l$t l LEFT JOIN p${t + 1} p ON p.id = l.id)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT range AS id FROM range(0, 500)),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT event_id % 500 AS src, (event_id*7919) % 500 AS dst
       |  FROM events WHERE event_id % 500 <> (event_id*7919) % 500),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
       |l0 AS MATERIALIZED (SELECT id, id AS lab FROM nodes),
       |$rounds
       |SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(id) AS BIGINT) AS member_id_sum
       |FROM l5 GROUP BY lab""".stripMargin
  }

  /** DBSCAN oracle: md5-uniform points, eps-grid 3×3 block join, core
    * rule, recursive reachability closure over core-core edges (the
    * clusterOracle pattern) + self-labeled isolated cores, min-label
    * border attachment. All integer math except the distance compares,
    * which both engines evaluate with the identical IEEE expression. */
  private def dbscanOracle: String =
    """WITH pts AS (
      |  SELECT event_id AS id,
      |    ('0x' || substr(md5('dx:' || event_id), 1, 15))::BIGINT % 36000 / 100.0 - 180.0 AS lon,
      |    ('0x' || substr(md5('dy:' || event_id), 1, 15))::BIGINT % 18000 / 100.0 - 90.0 AS lat
      |  FROM events),
      |epsv AS (SELECT 2.0 * sqrt(10000.0 / count(*)) AS e FROM pts),
      |cells AS (SELECT id, lon, lat,
      |  CAST(floor(round(lon / (SELECT e FROM epsv), 9)) AS BIGINT) AS cx,
      |  CAST(floor(round(lat / (SELECT e FROM epsv), 9)) AS BIGINT) AS cy FROM pts),
      |nine AS (SELECT a.id, a.lon, a.lat, a.cx + dx.d AS cx, a.cy + dy.d AS cy
      |  FROM cells a, (VALUES (-1),(0),(1)) dx(d), (VALUES (-1),(0),(1)) dy(d)),
      |pairs AS (
      |  SELECT a.id AS ia, b.id AS ib
      |  FROM nine a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy AND a.id <> b.id
      |  WHERE (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat)
      |    <= (SELECT e * e FROM epsv)),
      |nc AS (SELECT ia AS id, count(*) AS nn FROM pairs GROUP BY ia),
      |core AS (SELECT id FROM nc WHERE nn >= 4),
      |ce AS (SELECT ia, ib FROM pairs JOIN core a ON ia = a.id JOIN core b ON ib = b.id),
      |lab0 AS (
      |  WITH RECURSIVE reach AS (
      |    SELECT ia AS id, ia AS lab FROM ce
      |    UNION
      |    SELECT e.ib AS id, r.lab FROM reach r JOIN ce e ON e.ia = r.id)
      |  SELECT id, min(lab) AS lab FROM reach GROUP BY id),
      |labels AS (SELECT id, lab FROM lab0
      |  UNION ALL
      |  SELECT id, id AS lab FROM core WHERE id NOT IN (SELECT id FROM lab0)),
      |borders AS (
      |  SELECT p.ia AS id, min(l.lab) AS lab
      |  FROM pairs p JOIN labels l ON p.ib = l.id
      |  WHERE p.ia NOT IN (SELECT id FROM core)
      |  GROUP BY p.ia),
      |mem AS (
      |  SELECT id, lab, 1 AS is_core FROM labels
      |  UNION ALL SELECT id, lab, 0 AS is_core FROM borders)
      |SELECT lab AS cluster_id, CAST(sum(is_core) AS BIGINT) AS n_core,
      |  CAST(sum(1 - is_core) AS BIGINT) AS n_border,
      |  CAST(sum(id) AS BIGINT) AS id_sum
      |FROM mem GROUP BY lab""".stripMargin

  /** Generated octree-tiler oracle: the same deterministic event
    * cloud, the same md5-ranked cap-and-descend assignment mirrored
    * level by level (capped levels 0-4, cap-free terminal level 5),
    * integer voxel math (`//` == Spark's `div`). The Spark side
    * additionally routes every node through the LAZ encode→decode
    * cycle before aggregating, so this row gates BOTH the distributed
    * tiler and the codec. */
  private def pctilerOracle: String = {
    val cap = 500
    val levels = (1 to 5)
      .map { d =>
        val p = 1L << d
        val capClause = if (d < 5) s"WHERE rk <= $cap" else ""
        s"""d$d AS (
           |  SELECT id, x, y, z, okey, minx, miny, minz, size, $d AS level,
           |    least(((x - minx) * $p) // size, ${p - 1}) AS vx,
           |    least(((y - miny) * $p) // size, ${p - 1}) AS vy,
           |    least(((z - minz) * $p) // size, ${p - 1}) AS vz
           |  FROM r${d - 1} WHERE rk > $cap),
           |r$d AS (
           |  SELECT d$d.*, row_number() OVER (PARTITION BY vx, vy, vz ORDER BY okey) AS rk FROM d$d),
           |k$d AS (SELECT level, vx, vy, vz, id, x, y, z FROM r$d $capClause)""".stripMargin
      }
      .mkString(",\n")
    val union = (0 to 5).map(d => s"SELECT * FROM k$d").mkString(" UNION ALL ")
    s"""WITH p AS (
       |  SELECT event_id AS id,
       |    event_id % 1000000 AS x,
       |    (user_id * 7) % 1000000 AS y,
       |    (event_id * 13) % 500000 AS z,
       |    md5('oct:' || CAST(event_id AS VARCHAR)) AS okey
       |  FROM events),
       |b AS (
       |  SELECT min(x) AS minx, min(y) AS miny, min(z) AS minz,
       |    greatest(max(x) - min(x), max(y) - min(y), max(z) - min(z), 1) AS size FROM p),
       |r0 AS (
       |  SELECT p.id, p.x, p.y, p.z, p.okey, b.minx, b.miny, b.minz, b.size,
       |    0 AS level, CAST(0 AS BIGINT) AS vx, CAST(0 AS BIGINT) AS vy, CAST(0 AS BIGINT) AS vz,
       |    row_number() OVER (ORDER BY p.okey) AS rk
       |  FROM p, b),
       |k0 AS (SELECT level, vx, vy, vz, id, x, y, z FROM r0 WHERE rk <= $cap),
       |$levels
       |SELECT level, vx, vy, vz,
       |  count(*) AS n_points,
       |  CAST(sum(x) AS BIGINT) AS sum_x,
       |  CAST(sum(y) AS BIGINT) AS sum_y,
       |  CAST(sum(z) AS BIGINT) AS sum_z,
       |  CAST(sum(id) AS BIGINT) AS sum_id
       |FROM ($union)
       |GROUP BY 1, 2, 3, 4""".stripMargin
  }

  private def pageRankOracle: String = {
    val rounds = (0 until 10)
      .map { k =>
        s"""d$k AS MATERIALIZED (SELECT coalesce(sum(r),0) AS d FROM r$k WHERE id NOT IN (SELECT src FROM srcs)),
           |r${k + 1} AS MATERIALIZED (
           |  SELECT n.id, coalesce(c.c, 0) + 300000000 + 85*(SELECT d FROM d$k)//(100*500) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT dst AS id, sum((85*r)//(100*deg)) AS c
           |    FROM e JOIN r$k ON e.src = r$k.id GROUP BY dst
           |  ) c ON n.id = c.id)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT range AS id FROM range(0,500)),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT event_id % 500 AS src, (event_id*7919) % 500 AS dst
       |  FROM events WHERE event_id % 500 <> (event_id*7919) % 500),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |e AS MATERIALIZED (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
       |srcs AS MATERIALIZED (SELECT DISTINCT src FROM edges),
       |r0 AS MATERIALIZED (SELECT id, CAST(2000000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT id AS node, CAST(r AS BIGINT) AS rank_e12 FROM r10""".stripMargin
  }

  /** Generated BPE-training oracle: DuckDB replays `Bpe.trainBpe`'s 8
    * merge rounds. A word's symbol sequence rides as a string with each
    * symbol wrapped in its own '|' separators ('|l||o||w</w>|'): the
    * adjacent pair (a,b) appears as '|a||b|' and `replace()`'s
    * non-overlapping left-to-right scan is then EXACTLY the BPE merge
    * rule — a shared single separator would eat the next symbol's
    * boundary and mis-merge odd runs like 'aaaaa'. '|' never collides:
    * \w+ tokens are [a-z0-9_] and the end-of-word marker adds only
    * '</w>'. Ties break (count DESC, left, right) — binary string order
    * in both engines. MATERIALIZED per round (double-referenced CTEs
    * re-expand exponentially otherwise). */
  private def bpeOracle: String = {
    val rounds = (0 until 8)
      .map { k =>
        s"""pc$k AS MATERIALIZED (
           |  SELECT ls[i] AS a, ls[i+1] AS b, CAST(sum(freq) AS BIGINT) AS n
           |  FROM (SELECT freq, string_split(trim(s, '|'), '||') AS ls FROM v$k),
           |       (SELECT unnest(range(1, (SELECT max(length(word)) + 1 FROM wf))) AS i)
           |  WHERE i < len(ls) GROUP BY 1, 2),
           |top$k AS MATERIALIZED (
           |  SELECT CAST($k AS INT) AS rk, a, b, n FROM pc$k ORDER BY n DESC, a ASC, b ASC LIMIT 1),
           |v${k + 1} AS MATERIALIZED (
           |  SELECT freq, replace(s,
           |    '|' || (SELECT a FROM top$k) || '||' || (SELECT b FROM top$k) || '|',
           |    '|' || (SELECT a FROM top$k) || (SELECT b FROM top$k) || '|') AS s
           |  FROM v$k)""".stripMargin
      }
      .mkString(",\n")
    val union = (0 until 8).map(k => s"SELECT * FROM top$k").mkString(" UNION ALL ")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT freq, '|' || array_to_string(string_split(word, ''), '||') || '</w>|' AS s FROM wf),
       |$rounds
       |SELECT rk AS "rank", a AS "left", b AS "right", n AS pair_count
       |FROM ($union) ORDER BY rk""".stripMargin
  }

  /** Generated unigram-LM hard-EM oracle: replays seed substring
    * counts, add-one smoothing (the one mirrored float: round(cnt+1 /
    * total+V, 8)), and two Viterbi rounds with the engine's pinned
    * tie-breaks (max product, then smallest split position),
    * position-unrolled to MaxWord=12. Counts are integers, so nothing
    * drifts across rounds. */
  private def unigramOracle: String = {
    val maxWord = graft.text.Unigram.MaxWord
    val maxPiece = graft.text.Unigram.MaxPiece
    def viterbiRound(r: Int, probTable: String): String = {
      val bs = (1 to maxWord).map { e =>
        val priors = (math.max(0, e - maxPiece) until e).map { s =>
          if (s == 0)
            s"SELECT word, 0 AS s, CAST(1.0 AS DOUBLE) AS pv FROM wf WHERE length(word) >= $e"
          else
            s"SELECT word, $s AS s, val AS pv FROM b${r}_$s WHERE length(word) >= $e"
        }.mkString(" UNION ALL ")
        s"""b${r}_$e AS MATERIALIZED (
           |  SELECT word, val, piece FROM (
           |    SELECT cand.word, cand.val, cand.piece,
           |      row_number() OVER (PARTITION BY cand.word ORDER BY cand.val DESC, cand.s ASC) AS rn
           |    FROM (
           |      SELECT pr.word, pr.s, pr.pv * pp.p AS val, pp.piece
           |      FROM ($priors) pr
           |      JOIN $probTable pp ON pp.piece = substr(pr.word, pr.s + 1, $e - pr.s)
           |    ) cand) WHERE rn = 1)""".stripMargin
      }
      val ball = (1 to maxWord)
        .map(e => s"SELECT word, $e AS pos, piece FROM b${r}_$e")
        .mkString(" UNION ALL ")
      val ts = (1 to maxWord).map { k =>
        s"""t${r}_$k AS MATERIALIZED (
           |  SELECT t.word, t.freq, t.pos - length(b.piece) AS pos, b.piece
           |  FROM t${r}_${k - 1} t JOIN ball$r b ON b.word = t.word AND b.pos = t.pos
           |  WHERE t.pos > 0)""".stripMargin
      }
      val emitted = (1 to maxWord).map(k => s"SELECT piece, freq FROM t${r}_$k").mkString(" UNION ALL ")
      (bs ++ Seq(
        s"ball$r AS MATERIALIZED ($ball)",
        s"t${r}_0 AS (SELECT word, freq, length(word) AS pos FROM wf)") ++ ts ++ Seq(
        s"""cnt$r AS MATERIALIZED (
           |  SELECT v0.piece, CAST(coalesce(sum(u.freq), 0) AS BIGINT) AS cnt
           |  FROM v0 LEFT JOIN ($emitted) u ON u.piece = v0.piece
           |  GROUP BY v0.piece)""".stripMargin,
        s"""p$r AS MATERIALIZED (
           |  SELECT piece, round(CAST(cnt + 1 AS DOUBLE) /
           |    CAST((SELECT sum(cnt) FROM cnt$r) + (SELECT count(*) FROM cnt$r) AS DOUBLE), 8) AS p
           |  FROM cnt$r)""".stripMargin)).mkString(",\n")
    }
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS word FROM documents)
       |  WHERE length(word) BETWEEN 1 AND $maxWord GROUP BY word),
       |sub AS MATERIALIZED (
       |  SELECT substr(word, s, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM wf,
       |       (SELECT unnest(range(1, ${maxWord + 1})) AS s),
       |       (SELECT unnest(range(1, ${maxPiece + 1})) AS l)
       |  WHERE s + l - 1 <= length(word)
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM sub WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM sub WHERE length(piece) > 1
       |    ORDER BY cnt DESC, piece ASC LIMIT 120)),
       |p0 AS MATERIALIZED (
       |  SELECT piece, round(CAST(cnt + 1 AS DOUBLE) /
       |    CAST((SELECT sum(cnt) FROM v0) + (SELECT count(*) FROM v0) AS DOUBLE), 8) AS p
       |  FROM v0),
       |${viterbiRound(1, "p0")},
       |${viterbiRound(2, "p1")}
       |SELECT piece, cnt FROM cnt2 ORDER BY cnt DESC, piece ASC LIMIT 30""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_unigram" -> unigramOracle,
    "q_colormap" -> colormapOracle,
    "q_plane_fit" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 200 AS DOUBLE) AS x,
        |         CAST((event_id // 200) % 200 AS DOUBLE) AS y, value
        |  FROM events),
        |s AS (
        |  SELECT sum(x * x) AS sxx, sum(x * y) AS sxy, sum(x) AS sx,
        |         sum(y * y) AS syy, sum(y) AS sy, CAST(count(*) AS DOUBLE) AS n,
        |         sum(x * value) AS sxz, sum(y * value) AS syz, sum(value) AS sz
        |  FROM px)
        |SELECT
        |  round((sxz * (syy * n - sy * sy) - sxy * (syz * n - sy * sz) + sx * (syz * sy - syy * sz))
        |      / (sxx * (syy * n - sy * sy) - sxy * (sxy * n - sy * sx) + sx * (sxy * sy - syy * sx)), 6) AS a,
        |  round((sxx * (syz * n - sy * sz) - sxz * (sxy * n - sy * sx) + sx * (sxy * sz - syz * sx))
        |      / (sxx * (syy * n - sy * sy) - sxy * (sxy * n - sy * sx) + sx * (sxy * sy - syy * sx)), 6) AS b,
        |  round((sxx * (syy * sz - syz * sy) - sxy * (sxy * sz - syz * sx) + sxz * (sxy * sy - syy * sx))
        |      / (sxx * (syy * n - sy * sy) - sxy * (sxy * n - sy * sx) + sx * (sxy * sy - syy * sx)), 6) AS c,
        |  CAST(n AS BIGINT) AS n_points
        |FROM s""".stripMargin,
    "q_extent_union" ->
      """WITH pts AS (
        |  SELECT event_type,
        |    (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |    (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events)
        |SELECT event_type, min(lon - 0.25) AS minx, min(lat - 0.25) AS miny,
        |  max(lon + 0.25) AS maxx, max(lat + 0.25) AS maxy,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM pts GROUP BY event_type""".stripMargin,
    "q_geojson_bbox" ->
      """SELECT event_id AS id,
        |  CAST((event_id * 7919 % 36000) - 18000 - 5 AS DOUBLE) AS w,
        |  CAST((event_id * 104729 % 18000) - 9000 - 5 AS DOUBLE) AS s,
        |  CAST((event_id * 7919 % 36000) - 18000 + 5 AS DOUBLE) AS e,
        |  CAST((event_id * 104729 % 18000) - 9000 + 5 AS DOUBLE) AS n
        |FROM events WHERE event_id % 97 = 0""".stripMargin,
    "q_password" ->
      """WITH pw AS (
        |  SELECT substr(md5('salt' || CAST(doc_id AS VARCHAR)), 1, 8) AS salt,
        |    sha256(substr(md5('salt' || CAST(doc_id AS VARCHAR)), 1, 8) || ('pw' || CAST(doc_id AS VARCHAR))) AS hash
        |  FROM documents WHERE doc_id < 50),
        |cand AS (
        |  SELECT doc_id AS cid,
        |    CASE WHEN doc_id % 3 = 0 THEN 'pw' || CAST(doc_id AS VARCHAR)
        |         ELSE 'wrong' || CAST(doc_id AS VARCHAR) END AS pw
        |  FROM documents WHERE doc_id < 100)
        |SELECT cid,
        |  CAST(max(CASE WHEN sha256(p.salt || c.pw) = p.hash THEN 1 ELSE 0 END) AS BIGINT) AS accepted
        |FROM cand c CROSS JOIN pw p GROUP BY cid ORDER BY cid""".stripMargin,
    "q_tag_parse" ->
      """WITH tags AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 5 = 0 THEN 'Org' || doc_id || '/ds-' || doc_id
        |      WHEN doc_id % 5 = 1 THEN 'reg' || (doc_id % 3) || '.example.com/org_' || doc_id || '/ds' || doc_id
        |      WHEN doc_id % 5 = 2 THEN 'https://reg.example.com:8443/org' || doc_id || '/ds' || doc_id || '/'
        |      WHEN doc_id % 5 = 3 THEN 'http://plain.example.com:80/org' || doc_id || '/ds' || doc_id
        |      ELSE 'BAD!org/' || doc_id
        |    END AS tag
        |  FROM documents),
        |parsed AS (SELECT doc_id, regexp_replace(lower(trim(tag)), '/+$', '') AS t FROM tags),
        |parts AS (
        |  SELECT doc_id, t, position('/' IN t) > 0 AS has_slash,
        |    regexp_extract(t, '([^/]*)$', 1) AS ds
        |  FROM parsed),
        |parts2 AS (SELECT *, substr(t, 1, greatest(len(t) - len(ds) - 1, 0)) AS before_ds FROM parts),
        |parts3 AS (SELECT *, regexp_extract(before_ds, '([^/]*)$', 1) AS org FROM parts2),
        |parts4 AS (SELECT *, substr(before_ds, 1, greatest(len(before_ds) - len(org) - 1, 0)) AS reg FROM parts3),
        |ok AS (
        |  SELECT *,
        |    has_slash AND regexp_matches(org, '^[a-z0-9][a-z0-9_-]{1,128}$')
        |      AND regexp_matches(ds, '^[a-z0-9][a-z0-9_-]{1,128}$')
        |      AND NOT (org LIKE 'http://%' OR org LIKE 'https://%') AS valid,
        |    CASE WHEN reg LIKE 'https://%' THEN 'https'
        |         WHEN reg LIKE 'http://%' THEN 'http' ELSE 'https' END AS scheme,
        |    split_part(regexp_replace(reg, '^https?://', ''), '/', 1) AS host_port
        |  FROM parts4),
        |fin AS (
        |  SELECT doc_id, valid, org, ds,
        |    CASE WHEN reg = '' THEN 'https://hub.dronedb.app'
        |         ELSE scheme || '://' ||
        |           CASE WHEN scheme = 'http' THEN regexp_replace(host_port, ':80$', '')
        |                ELSE regexp_replace(host_port, ':443$', '') END
        |    END AS url
        |  FROM ok)
        |SELECT doc_id,
        |  CASE WHEN valid THEN url END AS registry_url,
        |  CASE WHEN valid THEN org END AS organization,
        |  CASE WHEN valid THEN ds END AS dataset,
        |  valid
        |FROM fin ORDER BY doc_id""".stripMargin,
    "q_sha256" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS distinct_digests,
        |  min(sha256(text)) AS first_digest
        |FROM documents GROUP BY lang""".stripMargin,
    "q_crs_transform" -> crsOracle,
    "q_sample" ->
      """WITH d AS (
        |  SELECT lang, text,
        |    ('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS h
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
        |  CAST(sum(length(regexp_extract_all(text, '\w+'))) AS BIGINT) AS kept_tokens
        |FROM d
        |WHERE h < CASE WHEN lang = 'en' THEN 250 WHEN lang = 'es' THEN 500 ELSE 900 END
        |GROUP BY lang""".stripMargin,
    "q_split" ->
      """WITH d AS (
        |  SELECT lang, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(regexp_extract_all(text, '\w+'))) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1, 2""".stripMargin,
    // Deterministic training-order shuffle: salted-md5 total order,
    // hash-routed shards, position within shard. Pure string/int
    // output; row_number ties impossible (md5 of distinct ids).
    "q_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, md5('ord:42:' || CAST(doc_id AS VARCHAR)) AS okey FROM documents),
        |s AS (
        |  SELECT doc_id, okey,
        |    CAST(('0x' || substr(okey, 1, 8))::BIGINT % 64 AS INT) AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY okey) AS BIGINT) AS pos
        |FROM s""".stripMargin,
    // Integer-exact mixture allocation: 60% global token budget split
    // by per-source weight, capped at availability; `//` == `div`.
    "q_mixture" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(sum(length(regexp_extract_all(text, '\w+'))) AS BIGINT) AS tokens,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 7 + 1 AS w
        |  FROM documents GROUP BY source),
        |g AS (SELECT CAST(sum(tokens) AS BIGINT) AS t_total, CAST(sum(w) AS BIGINT) AS w_total FROM t)
        |SELECT source, tokens, w AS weight,
        |  (((t_total * 6) // 10) * w) // w_total AS target,
        |  least(tokens, (((t_total * 6) // 10) * w) // w_total) AS kept_tokens,
        |  greatest(0, (((t_total * 6) // 10) * w) // w_total - tokens) AS deficit
        |FROM t, g""".stripMargin,
    "q_pii" ->
      """WITH aug AS (
        |  SELECT doc_id, source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.com or call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0') ||
        |    ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR) AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS n_email,
        |    len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}')) AS n_phone,
        |    len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS n_ip,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |        '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS clean
        |  FROM aug)
        |SELECT source,
        |  CAST(sum(n_email) AS BIGINT) AS n_email,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ip,
        |  md5(string_agg(clean, '|' ORDER BY doc_id)) AS clean_md5
        |FROM red GROUP BY source ORDER BY source""".stripMargin,
    "q_lm_score" ->
      """WITH bg0 AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '\w+') AS t FROM documents),
        |toks AS (SELECT doc_id, lang, unnest(t) AS w FROM bg0),
        |bigrams AS (
        |  SELECT doc_id, lang, unnest([{'w': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS b
        |  FROM bg0 WHERE len(t) >= 2),
        |bi AS (SELECT doc_id, lang, b.w AS w, b.w2 AS w2 FROM bigrams),
        |c12 AS (SELECT w, w2, count(*) AS c12 FROM bi GROUP BY w, w2),
        |c1 AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
        |v AS (SELECT count(DISTINCT w) AS v FROM toks),
        |scored AS (
        |  SELECT bi.doc_id, bi.lang, log2((c12.c12 + 1.0) / (c1.c1 + v.v)) AS lp
        |  FROM bi JOIN c12 USING (w, w2) JOIN c1 USING (w) CROSS JOIN v),
        |per_doc AS (SELECT doc_id, lang, avg(lp) AS ds FROM scored GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, round(avg(ds), 4) AS avg_lm_score
        |FROM per_doc GROUP BY lang""".stripMargin,
    "q_contour" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 200 AS INT) AS x, CAST((event_id // 200) % 200 AS INT) AS y, value
        |  FROM events),
        |corners AS (
        |  SELECT x AS cx, y AS cy, 0 AS corner, value FROM px
        |  UNION ALL SELECT x - 1, y, 1, value FROM px
        |  UNION ALL SELECT x, y - 1, 2, value FROM px
        |  UNION ALL SELECT x - 1, y - 1, 3, value FROM px),
        |cells AS (
        |  SELECT cx, cy,
        |    max(CASE WHEN corner = 0 THEN value END) AS v00,
        |    max(CASE WHEN corner = 1 THEN value END) AS v10,
        |    max(CASE WHEN corner = 2 THEN value END) AS v01,
        |    max(CASE WHEN corner = 3 THEN value END) AS v11
        |  FROM corners WHERE cx >= 0 AND cy >= 0
        |  GROUP BY cx, cy
        |  HAVING count(DISTINCT corner) = 4),
        |mm AS (SELECT min(value) AS mn, max(value) AS mxv FROM px),
        |levels AS (
        |  SELECT ceil(mn / iv) * iv + k * iv AS level
        |  FROM (SELECT mn, mxv, (mxv - mn) / 8.0 AS iv FROM mm), range(9) r(k)
        |  WHERE ceil(mn / iv) * iv + k * iv <= mxv),
        |edges AS (
        |  SELECT level, v00 AS va, v10 AS vb, CAST(cx AS DOUBLE) AS ex, CAST(cy AS DOUBLE) AS ey, 1.0 AS dx, 0.0 AS dy FROM cells, levels
        |  UNION ALL SELECT level, v10, v11, CAST(cx + 1 AS DOUBLE), CAST(cy AS DOUBLE), 0.0, 1.0 FROM cells, levels
        |  UNION ALL SELECT level, v11, v01, CAST(cx + 1 AS DOUBLE), CAST(cy + 1 AS DOUBLE), -1.0, 0.0 FROM cells, levels
        |  UNION ALL SELECT level, v01, v00, CAST(cx AS DOUBLE), CAST(cy + 1 AS DOUBLE), 0.0, -1.0 FROM cells, levels),
        |cr AS (
        |  SELECT level,
        |    ex + ((level - va) / (vb - va)) * dx AS cpx,
        |    ey + ((level - va) / (vb - va)) * dy AS cpy
        |  FROM edges WHERE (va >= level) <> (vb >= level))
        |SELECT round(level, 6) AS level, CAST(count(*) AS BIGINT) AS n_crossings,
        |  round(avg(cpx), 4) AS avg_x, round(avg(cpy), 4) AS avg_y
        |FROM cr GROUP BY level""".stripMargin,
    "q_minhash" -> minhashOracle,
    "q_simhash" -> simhashOracle,
    "q_ann_lsh" -> lshOracle,
    "q_ann_lsh_hi" -> (lshHiOracle + " ORDER BY 1, 2"),
    "q_tfidf" ->
      """WITH tr AS (
        |  SELECT source, doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS stf FROM tr GROUP BY source, term),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tr GROUP BY term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |sc AS (
        |  SELECT source, tf.term AS term,
        |    round(stf * ln((nd + 1.0) / (df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n)
        |SELECT source, term, tfidf, rank FROM (
        |  SELECT source, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 3""".stripMargin,
    "q_dedup_embed" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, list_sum([x * x for x in e]) AS n2 FROM v),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    a.n2 + b.n2 - 2 * list_sum([a.e[i] * b.e[i] for i in range(1, 65)]) AS d2
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT ia AS id_a, ib AS id_b, round(sqrt(greatest(d2, 0.0)), 6) AS dist
        |FROM p WHERE d2 <= 1.05 * 1.05""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(stddev_pop(l_extendedprice), 2) AS std_price,
        |  round(quantile_disc(l_extendedprice, 0.5), 2) AS median_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_minmax_extent" ->
      """SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
        |  count(*) AS n
        |FROM orders""".stripMargin,
    "q_count_group" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "q_like_scan" ->
      "SELECT p_partkey, p_name, p_brand FROM part WHERE p_name LIKE '%wid%'",
    "q_temporal_filter" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type""".stripMargin,
    "q_case_when" ->
      """SELECT CASE WHEN o_totalprice > 200000.0 THEN 'large'
        |            WHEN o_totalprice > 50000.0 THEN 'medium'
        |            ELSE 'small' END AS bucket, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_meta_join" ->
      """SELECT c_custkey, c_name,
        |  coalesce(oa.order_count, 0) AS order_count,
        |  coalesce(oa.total_spent, 0.0) AS total_spent
        |FROM customer
        |LEFT JOIN (
        |  SELECT o_custkey, count(*) AS order_count,
        |         round(sum(o_totalprice), 2) AS total_spent
        |  FROM orders GROUP BY o_custkey) oa
        |ON c_custkey = oa.o_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)""".stripMargin,
    "q_full_outer" ->
      """SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
        |  coalesce(cn.customers, 0) AS customers,
        |  coalesce(sn.suppliers, 0) AS suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS customers
        |      FROM customer GROUP BY c_nationkey) cn
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS suppliers
        |      FROM supplier GROUP BY s_nationkey) sn
        |ON cn.nationkey = sn.nationkey""".stripMargin,
    "q_q3_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_meta_json" ->
      """WITH m AS (
        |  SELECT 'e' || CAST(event_id AS VARCHAR) AS id, 'u' || CAST(user_id AS VARCHAR) AS path,
        |         event_type || 's' AS key, CAST(value AS VARCHAR) AS data, event_id AS mtime
        |  FROM events
        |  UNION ALL
        |  SELECT 'p' || CAST(user_id AS VARCHAR), 'u' || CAST(user_id AS VARCHAR), 'profile',
        |         CAST(count(*) AS VARCHAR), 0 FROM events GROUP BY user_id),
        |kv AS (
        |  SELECT path, key,
        |    CASE WHEN key LIKE '%s' THEN
        |      '[' || string_agg('{"data":' || data || ',"id":"' || id || '","mtime":' || CAST(mtime AS VARCHAR) || '}',
        |                        ',' ORDER BY mtime, id, data) || ']'
        |    ELSE
        |      string_agg('{"data":' || data || ',"id":"' || id || '","mtime":' || CAST(mtime AS VARCHAR) || '}',
        |                 ',' ORDER BY mtime, id, data)
        |    END AS kvs
        |  FROM m GROUP BY path, key)
        |SELECT path,
        |  '{' || string_agg('"' || key || '":' || kvs, ',' ORDER BY '"' || key || '":' || kvs) || '}' AS meta
        |FROM kv GROUP BY path""".stripMargin,
    "q_stamp_checksum" ->
      """SELECT sha256(string_agg(CAST(event_id AS VARCHAR) || CAST(value AS VARCHAR), ''
        |                         ORDER BY CAST(event_id AS VARCHAR))) AS checksum
        |FROM events""".stripMargin,
    "q_delta_adds" ->
      """WITH src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path, CAST(value AS VARCHAR) AS hash FROM events),
        |dst AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path,
        |         CAST(CASE WHEN event_id % 11 = 0 THEN value + 1.0 ELSE value END AS VARCHAR) AS hash
        |  FROM events WHERE event_id % 7 <> 0)
        |SELECT path, hash FROM src
        |WHERE NOT EXISTS (SELECT 1 FROM dst WHERE dst.path = src.path AND dst.hash = src.hash)""".stripMargin,
    // Geo-timezone conformance: the zone literals are what the pure-JVM
    // ZoneDetect reader returns for each city from the shipped
    // timezone21 polygon db (verified battery) — a reader divergence
    // changes the Spark-side strings and hash-fails here.
    "q_timezone" ->
      """WITH z(city_idx, zone) AS (VALUES
        |  (0,'America/Chicago'), (1,'Europe/London'), (2,'Asia/Tokyo'),
        |  (3,'Australia/Sydney'), (4,'Asia/Kathmandu'), (5,'Europe/Rome'),
        |  (6,'Pacific/Auckland'), (7,'America/Phoenix'), (8,'Asia/Kolkata'),
        |  (9,'Asia/Shanghai'), (10,'Europe/Berlin'), (11,'Europe/Moscow'),
        |  (12,'America/Los_Angeles'), (13,'America/Denver'), (14,'America/Sao_Paulo'),
        |  (15,'Africa/Cairo'), (16,'Africa/Johannesburg'), (17,'Australia/Perth'),
        |  (18,'Pacific/Honolulu'), (19,'Atlantic/Reykjavik'), (20,'America/Anchorage'),
        |  (21,'Australia/Adelaide'), (22,'Asia/Tehran'), (23,'America/St_Johns')),
        |e AS (SELECT event_id, CAST(event_id % 24 AS INT) AS city_idx FROM events)
        |SELECT zone, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(event_id) AS BIGINT) AS min_event,
        |  CAST(max(event_id) AS BIGINT) AS max_event
        |FROM e JOIN z USING (city_idx) GROUP BY zone""".stripMargin,
    // Sensor-width dim join: the (id, width) pairs are the REAL values
    // from the reference's shipped data/sensor_data.sqlite — the Spark
    // side reads that file with the pure-JVM SQLite reader, so a
    // parse divergence hash-fails here. ::DOUBLE casts keep DuckDB
    // from inferring DECIMAL for the literals.
    "q_sensor_focal" ->
      """WITH dim(sensor_id, width_mm) AS (VALUES
        |  ('dji fc220', 6.17::DOUBLE), ('dji fc300x', 6.2::DOUBLE),
        |  ('dji fc330', 6.25::DOUBLE), ('dji fc6310', 13.2::DOUBLE),
        |  ('dji fc7303', 6.16::DOUBLE), ('hasselblad l1d-20c', 13.2::DOUBLE),
        |  ('gopro hero4 silver', 6.17::DOUBLE), ('parrot anafi', 5.9::DOUBLE),
        |  ('sony ilce-7rm2', 35.9::DOUBLE), ('canon eos 5d mark iii', 36.0::DOUBLE),
        |  ('nikon d750', 35.9::DOUBLE), ('phantom vision fc200', 6.17::DOUBLE)),
        |fleet AS (
        |  SELECT c_custkey,
        |    list_extract(['dji fc220','dji fc300x','dji fc330','dji fc6310',
        |                  'dji fc7303','hasselblad l1d-20c','gopro hero4 silver',
        |                  'parrot anafi','sony ilce-7rm2','canon eos 5d mark iii',
        |                  'nikon d750','phantom vision fc200'],
        |                 CAST(c_custkey % 12 AS INT) + 1) AS sensor_id,
        |    24.0 + CAST(c_custkey % 40 AS DOUBLE) AS focal35
        |  FROM customer WHERE c_custkey <= 600),
        |j AS (
        |  SELECT f.sensor_id, d.width_mm,
        |    round(f.focal35 / 36.0 * d.width_mm, 6) AS focal_mm
        |  FROM fleet f JOIN dim d USING (sensor_id))
        |SELECT sensor_id, width_mm, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(focal_mm), 6) AS focal_mm_sum
        |FROM j GROUP BY sensor_id, width_mm""".stripMargin,
    "q_dim_rollup" ->
      """SELECT r_name, n_name, count(*) AS suppliers,
        |  round(avg(s_acctbal), 2) AS avg_acctbal
        |FROM supplier, nation, region
        |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_paging" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  round(o_totalprice, 2) AS total_price
        |FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 10 OFFSET 5""".stripMargin,
    "q_topk" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "q_window_top" ->
      """SELECT o_custkey, top_orderkey, top_price FROM (
        |  SELECT o_custkey, o_orderkey AS top_orderkey,
        |    round(o_totalprice, 2) AS top_price,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q_except" ->
      """SELECT s_suppkey AS suppkey FROM supplier
        |EXCEPT
        |SELECT l_suppkey AS suppkey FROM lineitem WHERE l_quantity >= 48.0""".stripMargin,
    "q_union_dedup" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer",
    "q_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_vegetation" ->
      """SELECT l_returnflag,
        |  round(avg(((l_tax+0.2) - (l_discount+0.1)) / ((l_tax+0.2) + (l_discount+0.1) - 0.05)), 6) AS avg_vari,
        |  round(avg(((l_quantity/50.0+0.5) - (l_discount+0.1)) / ((l_quantity/50.0+0.5) + (l_discount+0.1))), 6) AS avg_ndvi,
        |  round(avg(1.5 * ((l_quantity/50.0+0.5) - (l_discount+0.1)) / ((l_quantity/50.0+0.5) + (l_discount+0.1) + 0.5)), 6) AS avg_savi,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_thermal" ->
      """SELECT event_type,
        |  round(avg(1501.0 / ln(21106.77 / (0.012545258 * (((abs(value)+100.0)*100.0) + -7340.0)) + 1.0) - 273.15), 6) AS avg_c,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_slugify" ->
      """SELECT DISTINCT regexp_replace(regexp_replace(regexp_replace(lower(p_name),
        |  '[^a-z0-9]+', '-', 'g'), '-+', '-', 'g'), '^-|-$', '', 'g') AS slug
        |FROM part""".stripMargin,
    "q_base64" ->
      "SELECT c_custkey, to_base64(CAST(c_name AS BLOB)) AS href_token FROM customer",
    "q_path_ops" ->
      """SELECT doc_id, path,
        |  array_length(string_split(path, '/')) - 1 AS depth,
        |  regexp_replace(path, '/[^/]*$', '') AS parent,
        |  list_extract(string_split(path, '.'), -1) AS ext
        |FROM (
        |  SELECT doc_id, source || '/' || lang || '/doc_' || doc_id || '.txt' AS path
        |  FROM documents)
        |WHERE path LIKE 'src1%'""".stripMargin,
    "q_token_stats" ->
      """SELECT lang,
        |  CAST(sum(length(regexp_extract_all(text, '\w+'))) AS BIGINT) AS total_tokens,
        |  round(avg(length(regexp_extract_all(text, '\w+'))), 4) AS avg_tokens,
        |  round(avg(length(text)), 4) AS avg_chars,
        |  count(*) AS docs
        |FROM documents GROUP BY lang""".stripMargin,
    "q_quality_stats" ->
      """SELECT source,
        |  round(avg(CASE WHEN length(text) > 0
        |    THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
        |    ELSE 0.0 END), 6) AS avg_punct_ratio,
        |  round(avg(CASE WHEN length(regexp_extract_all(text, '\w+')) > 0
        |    THEN CAST(length(list_filter(regexp_extract_all(text, '\w+'),
        |         w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(w)))) AS DOUBLE)
        |         / length(regexp_extract_all(text, '\w+'))
        |    ELSE 0.0 END), 6) AS avg_stopword_ratio,
        |  round(avg(CASE WHEN length(regexp_extract_all(text, '\w+')) > 0
        |    THEN CAST(length(text) AS DOUBLE) / length(regexp_extract_all(text, '\w+'))
        |    ELSE 0.0 END), 6) AS avg_word_len,
        |  count(*) AS docs
        |FROM documents GROUP BY source""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS copies, min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1""".stripMargin,
    "q_dedup_count" ->
      """SELECT count(*) AS total_docs, count(DISTINCT md5(text)) AS distinct_docs
        |FROM documents""".stripMargin,
    "q_ann_topk" ->
      """SELECT b.vec_id,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0 AND b.vec_id <> 0
        |ORDER BY cos_sim DESC, b.vec_id LIMIT 10""".stripMargin,
    "q_ann_norm" ->
      """SELECT label,
        |  round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 6) AS avg_norm,
        |  count(*) AS n
        |FROM embeddings GROUP BY label""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS suppliers, round(sum(s_acctbal), 2) AS sum_acctbal
        |FROM supplier, nation, region
        |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS suppliers
        |FROM supplier, nation, region
        |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, n_name)""".stripMargin,
    "q_pivot" ->
      """SELECT user_id % 10 AS bucket,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_disc(l_extendedprice, 0.25), 2) AS p25,
        |  round(quantile_disc(l_extendedprice, 0.5), 2) AS p50,
        |  round(quantile_disc(l_extendedprice, 0.75), 2) AS p75,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_lag_delta" ->
      """SELECT event_type, round(avg(delta), 6) AS avg_delta, count(delta) AS n_deltas
        |FROM (
        |  SELECT event_type,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |  FROM events)
        |GROUP BY event_type""".stripMargin,
    "q_cumsum" ->
      """SELECT user_id, round(max(cum), 2) AS peak_total, count(*) AS n
        |FROM (
        |  SELECT user_id,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events)
        |GROUP BY user_id""".stripMargin,
    "q_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN prev IS NULL OR tus - prev > 7200000000 THEN 1 ELSE 0 END AS new_s
        |  FROM t),
        |sess AS (
        |  SELECT user_id, tus,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM marked),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n_events, max(tus) - min(tus) AS dur_us
        |  FROM sess GROUP BY user_id, sid)
        |SELECT user_id, max(sid) AS n_sessions,
        |  round(avg(n_events), 4) AS avg_events,
        |  round(avg(dur_us / 1e6), 4) AS avg_dur_s
        |FROM per GROUP BY user_id""".stripMargin,
    "q_asof_join" ->
      """SELECT a.event_id, epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |ON a.user_id = b.user_id AND a.ts >= b.ts""".stripMargin,
    "q_gapfill" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts))::TIMESTAMP AS h0,
        |         date_trunc('hour', max(ts))::TIMESTAMP AS h1 FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |counts AS (
        |  SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(spine.h, '%Y-%m-%d %H:%M:%S') AS hour, types.event_type,
        |  CAST(coalesce(counts.cnt, 0) AS BIGINT) AS n
        |FROM spine CROSS JOIN types
        |LEFT JOIN counts ON counts.h = spine.h AND counts.event_type = types.event_type""".stripMargin,
    "q_trailing_window" ->
      """SELECT event_type,
        |  round(avg(trail_n), 4) AS avg_trail_n,
        |  round(avg(trail_sum), 4) AS avg_trail_sum,
        |  max(trail_n) AS max_trail_n
        |FROM (
        |  SELECT event_type,
        |    count(*) OVER w AS trail_n,
        |    sum(value) OVER w AS trail_sum
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |GROUP BY event_type""".stripMargin,
    // Anomaly: the 49-PRECEDING frame excludes the current row; the
    // |z|>3 gate uses the UNROUNDED z in both engines, z rounds to 4dp
    // only on output.
    "q_anomaly" ->
      """WITH w AS (
        |  SELECT user_id, event_id, value,
        |    avg(value) OVER win AS m,
        |    stddev(value) OVER win AS sd,
        |    count(*) OVER win AS n
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 49 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, round((value - m) / sd, 4) AS z
        |FROM w WHERE n >= 20 AND sd > 0 AND abs((value - m) / sd) > 3.0""".stripMargin,
    // Horn slope/aspect: 3x3 stencil reassembled via conditional sums,
    // octant classified by comparisons only (no libm atan2 — engines
    // can differ in the last ulp there; comparisons cannot).
    "q_slope" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 200 AS INT) AS x, CAST((event_id // 200) % 200 AS INT) AS y,
        |    max(value) AS value
        |  FROM events GROUP BY 1, 2),
        |nb AS (
        |  SELECT px.x + dx.d AS tx, px.y + dy.d AS ty, (1 - dx.d) * 3 + (1 - dy.d) AS pos, value
        |  FROM px, (VALUES (-1),(0),(1)) dx(d), (VALUES (-1),(0),(1)) dy(d)),
        |k AS (
        |  SELECT tx AS x, ty AS y, count(*) AS n,
        |    sum(CASE WHEN pos = 0 THEN value END) AS a, sum(CASE WHEN pos = 3 THEN value END) AS b,
        |    sum(CASE WHEN pos = 6 THEN value END) AS cc, sum(CASE WHEN pos = 1 THEN value END) AS d,
        |    sum(CASE WHEN pos = 7 THEN value END) AS f, sum(CASE WHEN pos = 2 THEN value END) AS g,
        |    sum(CASE WHEN pos = 5 THEN value END) AS h, sum(CASE WHEN pos = 8 THEN value END) AS i
        |  FROM nb GROUP BY 1, 2),
        |sl AS (
        |  SELECT x, y,
        |    ((cc + 2*f + i) - (a + 2*d + g)) / 8.0 AS dzx,
        |    ((g + 2*h + i) - (a + 2*b + cc)) / 8.0 AS dzy
        |  FROM k WHERE n = 9),
        |cls AS (
        |  SELECT x, y, sqrt(dzx * dzx + dzy * dzy) AS slope,
        |    CASE WHEN dzx = 0 AND dzy = 0 THEN -1
        |         WHEN abs(dzx) >= abs(dzy) AND dzx > 0 AND dzy >= 0 THEN 0
        |         WHEN abs(dzx) < abs(dzy) AND dzy > 0 AND dzx >= 0 THEN 1
        |         WHEN abs(dzx) < abs(dzy) AND dzy > 0 AND dzx < 0 THEN 2
        |         WHEN abs(dzx) >= abs(dzy) AND dzx < 0 AND dzy > 0 THEN 3
        |         WHEN abs(dzx) >= abs(dzy) AND dzx < 0 AND dzy <= 0 THEN 4
        |         WHEN abs(dzx) < abs(dzy) AND dzy < 0 AND dzx <= 0 THEN 5
        |         WHEN abs(dzx) < abs(dzy) AND dzy < 0 AND dzx > 0 THEN 6
        |         ELSE 7 END AS octant
        |  FROM sl)
        |SELECT octant, count(*) AS n_pixels, round(avg(slope), 4) AS avg_slope,
        |  round(max(slope), 4) AS max_slope
        |FROM cls GROUP BY octant""".stripMargin,
    // Hillshade: same stencil CTEs as q_slope; light vector as literal
    // sqrt(2)/2 doubles; trunc (floor), never round, on the byte value.
    "q_hillshade" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 200 AS INT) AS x, CAST((event_id // 200) % 200 AS INT) AS y,
        |    max(value) AS value
        |  FROM events GROUP BY 1, 2),
        |nb AS (
        |  SELECT px.x + dx.d AS tx, px.y + dy.d AS ty, (1 - dx.d) * 3 + (1 - dy.d) AS pos, value
        |  FROM px, (VALUES (-1),(0),(1)) dx(d), (VALUES (-1),(0),(1)) dy(d)),
        |k AS (
        |  SELECT tx AS x, ty AS y, count(*) AS n,
        |    sum(CASE WHEN pos = 0 THEN value END) AS a, sum(CASE WHEN pos = 3 THEN value END) AS b,
        |    sum(CASE WHEN pos = 6 THEN value END) AS cc, sum(CASE WHEN pos = 1 THEN value END) AS d,
        |    sum(CASE WHEN pos = 7 THEN value END) AS f, sum(CASE WHEN pos = 2 THEN value END) AS g,
        |    sum(CASE WHEN pos = 5 THEN value END) AS h, sum(CASE WHEN pos = 8 THEN value END) AS i
        |  FROM nb GROUP BY 1, 2),
        |sl AS (
        |  SELECT x, y,
        |    ((cc + 2*f + i) - (a + 2*d + g)) / 8.0 AS dzx,
        |    ((g + 2*h + i) - (a + 2*b + cc)) / 8.0 AS dzy
        |  FROM k WHERE n = 9),
        |sh AS (
        |  SELECT CAST(floor(255.0 * greatest(0.0,
        |    (0.7071067811865476 - 0.7071067811865476 *
        |      (dzx * 0.7071067811865476 + dzy * (-0.7071067811865476))) /
        |    sqrt(1.0 + dzx * dzx + dzy * dzy))) AS BIGINT) AS shade
        |  FROM sl)
        |SELECT shade // 16 AS bucket, count(*) AS n_pixels,
        |  min(shade) AS min_shade, max(shade) AS max_shade
        |FROM sh GROUP BY 1""".stripMargin,
    // Transition counts are exact integers; p is one division of
    // identical integers in either engine.
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |cnt AS (SELECT prev, event_type AS next, count(*) AS n FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev, sum(n) AS t FROM cnt GROUP BY 1)
        |SELECT cnt.prev, next, n, round(CAST(n AS DOUBLE) / t, 6) AS p
        |FROM cnt JOIN tot ON cnt.prev = tot.prev""".stripMargin,
    // Funnel steps require STRICTLY-after ordering, so a user's depth
    // is a pure function of their event times.
    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS s1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS s2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.s1
        |        AND e.ts <= v.s1 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS s3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.s2
        |        AND e.ts <= c.s2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_users FROM (
        |  SELECT v.user_id,
        |    1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
        |      + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS depth
        |  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        |GROUP BY depth""".stripMargin,
    // kNN join: the engine's grid-blocked candidate generation must
    // reproduce brute-force truth — integer d², ties on bid.
    "q_knn_join" ->
      """WITH p AS (SELECT event_id AS id, event_id * 7919 % 36000 - 18000 AS px,
        |        event_id * 104729 % 18000 - 9000 AS py FROM events),
        |q AS (SELECT * FROM p WHERE id % 10 = 0),
        |c AS (SELECT q.id AS qid, p.id AS bid,
        |        (q.px - p.px) * (q.px - p.px) + (q.py - p.py) * (q.py - p.py) AS d2
        |      FROM q, p WHERE p.id <> q.id)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, bid, d2 FROM (
        |  SELECT qid, bid, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, bid) AS rank
        |  FROM c WHERE d2 <= 250000)
        |WHERE rank <= 5""".stripMargin,
    // Profiler: one UNION ALL branch per column; completeness divides
    // two integers, avg_len averages exact integer lengths.
    "q_col_profile" -> {
      def branch(c: String, str: Boolean): String =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
           |  round(count($c) / count(*), 6) AS completeness,
           |  CAST(min($c) AS VARCHAR) AS min_value, CAST(max($c) AS VARCHAR) AS max_value,
           |  ${if (str) s"round(avg(length($c)), 4)" else "CAST(NULL AS DOUBLE)"} AS avg_len
           |FROM documents""".stripMargin
      Seq(
        branch("doc_id", str = false),
        branch("text", str = true),
        branch("lang", str = true),
        branch("source", str = true),
        branch("n_chars", str = false)
      ).mkString("\nUNION ALL\n")
    },
    // Skyline: the oracle states dominance declaratively (NOT EXISTS);
    // the engine's two-phase sweep must produce the identical frontier.
    "q_skyline" ->
      """WITH pts AS (SELECT o_totalprice AS p, epoch_us(o_orderdate) // 86400000000 AS d,
        |        o_orderkey AS rid FROM orders WHERE o_orderpriority = '1-URGENT'),
        |dist AS (SELECT p, d, count(*) AS n_rows, min(rid) AS min_rid FROM pts GROUP BY 1, 2)
        |SELECT p AS price, d AS order_day, n_rows, min_rid AS min_orderkey FROM dist a
        |WHERE NOT EXISTS (SELECT 1 FROM dist b
        |  WHERE b.p >= a.p AND b.d >= a.d AND (b.p > a.p OR b.d > a.d))""".stripMargin,
    // SCD2: version starts where the lagged attribute differs; lead
    // closes intervals; snapshot tests valid_from <= T < valid_to.
    "q_scd2" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        |o AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
        |v AS (SELECT user_id, tus, event_type,
        |        lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS valid_to
        |      FROM o WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, count(*) AS n_versions,
        |  max(CASE WHEN valid_to IS NULL THEN event_type END) AS current_state,
        |  max(CASE WHEN tus <= 1705276800000000 AND (valid_to IS NULL OR 1705276800000000 < valid_to)
        |      THEN event_type END) AS state_at_t
        |FROM v GROUP BY 1""".stripMargin,
    // Retention buckets by integer epoch-microsecond weeks so both
    // engines share the boundary; the rate divides two integers.
    "q_retention" ->
      """WITH wk AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY 1),
        |c AS (SELECT f.cohort_wk, wk.wk - f.cohort_wk AS week_age,
        |        count(DISTINCT wk.user_id) AS n_users
        |      FROM wk JOIN f USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT cohort_wk, count(*) AS cohort_n FROM f GROUP BY 1)
        |SELECT c.cohort_wk, c.week_age, c.n_users,
        |  round(c.n_users / sz.cohort_n, 6) AS retention
        |FROM c JOIN sz USING (cohort_wk)""".stripMargin,
    // Incremental maintenance is pure plumbing: the folded state must
    // equal the direct aggregate over everything.
    "q_incr_agg" ->
      """SELECT user_id, count(*) AS n,
        |  round(sum(value), 4) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  round(round(sum(value), 4) / count(*), 6) AS avg_value
        |FROM events GROUP BY user_id""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |  count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_delta_removes" ->
      """WITH dst AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path,
        |         CASE WHEN event_id % 13 = 0 THEN '' ELSE CAST(value AS VARCHAR) END AS hash
        |  FROM events),
        |src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path,
        |         CASE WHEN event_id % 13 = 0 THEN '' ELSE CAST(value AS VARCHAR) END AS hash
        |  FROM events WHERE event_id % 7 <> 0)
        |SELECT path, hash FROM dst
        |WHERE NOT EXISTS (SELECT 1 FROM src
        |                  WHERE src.path = dst.path AND (src.hash = '') = (dst.hash = ''))""".stripMargin,
    "q_status" ->
      """WITH ev AS (SELECT event_id, event_id % 1000 AS m, CAST(value AS VARCHAR) AS h, value FROM events),
        |idx AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path, m AS idx_mtime, h AS idx_hash
        |  FROM ev WHERE event_id % 19 <> 0),
        |fs AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path,
        |         CASE WHEN event_id % 5 = 0 THEN m + 1 ELSE m END AS fs_mtime,
        |         CASE WHEN event_id % 10 = 0 THEN CAST(value + 1.0 AS VARCHAR) ELSE h END AS fs_hash
        |  FROM ev WHERE event_id % 17 <> 0)
        |SELECT status, count(*) AS n FROM (
        |  SELECT CASE WHEN idx_mtime IS NULL THEN 'not_indexed'
        |              WHEN fs_mtime IS NULL THEN 'deleted'
        |              WHEN fs_mtime = idx_mtime THEN 'not_modified'
        |              WHEN fs_hash IS NOT NULL AND fs_hash = idx_hash THEN 'not_modified'
        |              ELSE 'modified' END AS status
        |  FROM idx FULL OUTER JOIN fs USING (path))
        |GROUP BY status""".stripMargin,
    "q_folder_repair" ->
      """WITH paths AS (
        |  SELECT source || '/' || lang || '/doc_' || doc_id || '.txt' AS path FROM documents),
        |parts AS (SELECT string_split(path, '/') AS p FROM paths)
        |SELECT DISTINCT unnest([array_to_string(p[1:i], '/') for i in range(1, len(p))]) AS path
        |FROM parts""".stripMargin,
    "q_mime" ->
      """SELECT doc_id, path,
        |  CASE list_extract(string_split(path, '.'), -1)
        |    WHEN 'jpg' THEN 'image/jpeg'
        |    WHEN 'tif' THEN 'image/tiff'
        |    WHEN 'laz' THEN 'application/vnd.laszip'
        |    WHEN 'mp4' THEN 'video/mp4'
        |    WHEN 'txt' THEN 'text/plain'
        |    WHEN 'geojson' THEN 'application/geo+json'
        |    ELSE 'application/octet-stream' END AS mime
        |FROM (
        |  SELECT doc_id,
        |    'f_' || doc_id || '.' ||
        |      list_extract(['jpg','tif','laz','mp4','txt','geojson','xyz'], CAST(doc_id % 7 AS INT) + 1) AS path
        |  FROM documents)""".stripMargin,
    "q_epsg" ->
      """SELECT n_nationkey,
        |  CAST(list_extract(regexp_extract_all(wkt, 'AUTHORITY\["EPSG","(\d+)"\]', 1), -1) AS INT) AS epsg
        |FROM (
        |  SELECT n_nationkey,
        |    'PROJCS["utm",GEOGCS["wgs84",AUTHORITY["EPSG","4326"]],AUTHORITY["EPSG","326'
        |      || (n_nationkey % 60 + 1) || '"]]' AS wkt
        |  FROM nation)""".stripMargin,
    "q_iso_parse" ->
      """WITH t AS (
        |  SELECT user_id % 25 - 12 AS offset_h,
        |    strftime(make_timestamp((epoch_us(ts) // 1000000) * 1000000), '%Y-%m-%dT%H:%M:%S')
        |      || CASE WHEN user_id % 25 - 12 < 0 THEN '-' ELSE '+' END
        |      || lpad(CAST(abs(user_id % 25 - 12) AS VARCHAR), 2, '0')
        |      || ':' || CASE WHEN user_id % 2 = 0 THEN '00' ELSE '30' END AS iso
        |  FROM events)
        |SELECT offset_h, count(*) AS n,
        |  CAST(min(epoch(strptime(iso, '%Y-%m-%dT%H:%M:%S%z'))) AS BIGINT) AS min_epoch,
        |  CAST(max(epoch(strptime(iso, '%Y-%m-%dT%H:%M:%S%z'))) AS BIGINT) AS max_epoch
        |FROM t GROUP BY offset_h""".stripMargin,
    "q_wkt_bbox" ->
      """WITH c AS (
        |  SELECT event_type, (event_id * 7919 % 36000) - 18000 AS x,
        |         (event_id * 104729 % 18000) - 9000 AS y
        |  FROM events),
        |w AS (
        |  SELECT event_type,
        |    'POLYGON ((' || x || ' ' || y || ', ' || (x+500) || ' ' || y || ', '
        |      || (x+500) || ' ' || (y+500) || ', ' || x || ' ' || (y+500) || ', '
        |      || x || ' ' || y || '))' AS wkt
        |  FROM c),
        |p AS (
        |  SELECT event_type,
        |    regexp_extract_all(wkt, '(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)', 0) AS pairs
        |  FROM w),
        |b AS (
        |  SELECT event_type,
        |    list_min([CAST(string_split_regex(q, '\s+')[1] AS DOUBLE) for q in pairs]) AS w,
        |    list_min([CAST(string_split_regex(q, '\s+')[2] AS DOUBLE) for q in pairs]) AS s,
        |    list_max([CAST(string_split_regex(q, '\s+')[1] AS DOUBLE) for q in pairs]) AS e,
        |    list_max([CAST(string_split_regex(q, '\s+')[2] AS DOUBLE) for q in pairs]) AS n
        |  FROM p)
        |SELECT event_type, count(*) AS n_rings,
        |  min(w) AS min_w, max(e) AS max_e, min(s) AS min_s, max(n) AS max_n
        |FROM b GROUP BY event_type""".stripMargin,
    "q_bytes_human" ->
      """SELECT unit, count(*) AS n, round(avg(scaled), 4) AS avg_scaled
        |FROM (
        |  SELECT CASE WHEN b < 1024 THEN 'B'
        |              WHEN b < 1048576 THEN 'KB'
        |              WHEN b < 1073741824 THEN 'MB'
        |              ELSE 'GB' END AS unit,
        |         CASE WHEN b < 1024 THEN CAST(b AS DOUBLE)
        |              WHEN b < 1048576 THEN b / 1024.0
        |              WHEN b < 1073741824 THEN b / 1048576.0
        |              ELSE b / 1073741824.0 END AS scaled
        |  FROM (SELECT CAST(floor(o_totalprice * 1024.0) AS BIGINT) AS b FROM orders))
        |GROUP BY unit""".stripMargin,
    "q_bbox_filter" ->
      """SELECT event_type, count(*) AS n,
        |  round(avg(lon), 6) AS avg_lon, round(avg(lat), 6) AS avg_lat
        |FROM (
        |  SELECT event_type,
        |    (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |    (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events)
        |WHERE NOT (lon + 0.25 < -60.0 OR lon - 0.25 > 60.0
        |           OR lat + 0.25 < -30.0 OR lat - 0.25 > 30.0)
        |GROUP BY event_type""".stripMargin,
    // Grid-partitioned spatial join: same deterministic lon/lat, same
    // 20 integer-degree regions, same 5-degree cell keys
    // (quantize-before-floor), exact containment, integer checksums.
    "q_spatial_join" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |    (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events),
        |regions AS (
        |  SELECT r AS region_id,
        |    ((r * 53) % 60) * 5 - 180 AS w, ((r * 53) % 60) * 5 - 180 + 4 + (r % 5) * 3 AS e,
        |    ((r * 29) % 30) * 5 - 90 AS s, ((r * 29) % 30) * 5 - 90 + 3 + (r % 4) * 4 AS n
        |  FROM (SELECT unnest(range(20)) AS r)),
        |rcells AS (
        |  SELECT region_id, w, e, s, n, cx, cy
        |  FROM regions,
        |    LATERAL (SELECT unnest(generate_series(CAST(floor(round(w / 5.0, 9)) AS BIGINT),
        |                                           CAST(floor(round(e / 5.0, 9)) AS BIGINT))) AS cx),
        |    LATERAL (SELECT unnest(generate_series(CAST(floor(round(s / 5.0, 9)) AS BIGINT),
        |                                           CAST(floor(round(n / 5.0, 9)) AS BIGINT))) AS cy)),
        |pcells AS (
        |  SELECT event_id, lon, lat,
        |    CAST(floor(round(lon / 5.0, 9)) AS BIGINT) AS cx,
        |    CAST(floor(round(lat / 5.0, 9)) AS BIGINT) AS cy
        |  FROM ev)
        |SELECT region_id, CAST(count(*) AS BIGINT) AS n_points, CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM rcells JOIN pcells USING (cx, cy)
        |WHERE lon >= w AND lon <= e AND lat >= s AND lat <= n
        |GROUP BY 1""".stripMargin,
    // Z-order (Morton) values: same 16-bit quantize-before-floor cells,
    // same bit interleave, rolled up per z-cell so every interleaved
    // bit is hash-checked.
    "q_zorder" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |    (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events),
        |q AS (
        |  SELECT event_id,
        |    least(CAST(floor(round((lon - -180.0) / 360.0 * 65536, 9)) AS BIGINT), 65535) AS ix,
        |    least(CAST(floor(round((lat - -90.0) / 180.0 * 65536, 9)) AS BIGINT), 65535) AS iy
        |  FROM ev),
        |z AS (
        |  SELECT event_id,
        |    -- full parens: DuckDB gives << and | EQUAL precedence
        |    -- (left-assoc), so a << x | b << y parses as ((a<<x|b)<<y)
        |    (SELECT sum((((ix >> b) & 1) << (2 * b)) | (((iy >> b) & 1) << (2 * b + 1)))
        |     FROM (SELECT unnest(range(16)) AS b)) AS zval
        |  FROM q)
        |SELECT CAST(zval >> 22 AS BIGINT) AS zcell, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(zval) AS BIGINT) AS zmin, CAST(max(zval) AS BIGINT) AS zmax
        |FROM z GROUP BY 1""".stripMargin,
    "q_cog" ->
      """WITH ev AS (
        |  SELECT event_id % 400 AS x, (event_id // 400) % 400 AS y, max((event_id * 37) % 256) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT i % 512 AS gx, i // 512 AS gy FROM range(0, 262144) t(i)),
        |p AS (SELECT gx, gy, gx // 256 AS tx, gy // 256 AS ty,
        |        (gy % 256) * 256 + (gx % 256) AS idx,
        |        coalesce(v, 0) AS v
        |      FROM g LEFT JOIN ev ON ev.x = g.gx AND ev.y = g.gy)
        |SELECT tx AS tile_x, ty AS tile_y,
        |  CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonzero,
        |  md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY idx)) AS plane_md5
        |FROM p GROUP BY 1, 2""".stripMargin,
    // COG READ loop: Spark decodes a level-0 window and the level-1
    // overview back out of the encoded TIFF; the oracle recomputes
    // both from the raw grid (overview = nearest top-left sample).
    "q_cog_read" ->
      """WITH ev AS (
        |  SELECT event_id % 400 AS x, (event_id // 400) % 400 AS y, max((event_id * 37) % 256) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT i % 400 AS x, i // 400 AS y FROM range(0, 160000) t(i)),
        |f0 AS (SELECT g.x, g.y, coalesce(ev.v, 0) AS v
        |       FROM g LEFT JOIN ev ON ev.x = g.x AND ev.y = g.y),
        |b0 AS (SELECT 0 AS level, CAST(y // 32 AS INT) AS band,
        |         sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS n_nonzero, sum(v) AS sum_v
        |       FROM f0 WHERE x >= 37 AND x < 341 AND y >= 50 AND y < 300 GROUP BY 2),
        |g1 AS (SELECT i % 200 AS x, i // 200 AS y FROM range(0, 40000) t(i)),
        |f1 AS (SELECT g1.x, g1.y, f0.v AS v
        |       FROM g1 JOIN f0 ON f0.x = 2 * g1.x AND f0.y = 2 * g1.y),
        |b1 AS (SELECT 1 AS level, CAST(y // 32 AS INT) AS band,
        |         sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS n_nonzero, sum(v) AS sum_v
        |       FROM f1 GROUP BY 2)
        |SELECT level, band, CAST(n_nonzero AS BIGINT) AS n_nonzero, CAST(sum_v AS BIGINT) AS sum_v
        |FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1)""".stripMargin,
    "q_mvt" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |    (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events),
        |m AS (
        |  SELECT event_id,
        |    lon * (pi() * 6378137.0) / 180.0 AS mx,
        |    ln(tan((90.0 + lat) * pi() / 360.0)) / (pi() / 180.0) * (pi() * 6378137.0) / 180.0 AS my
        |  FROM pts WHERE lat > -85.0 AND lat < 85.0),
        |t AS (
        |  SELECT event_id, mx, my,
        |    greatest(0, CAST(ceil(((mx + pi() * 6378137.0) / ((2 * pi() * 6378137.0 / 256.0) / 32)) / 256.0) AS BIGINT) - 1) AS tx,
        |    greatest(0, CAST(ceil(((my + pi() * 6378137.0) / ((2 * pi() * 6378137.0 / 256.0) / 32)) / 256.0) AS BIGINT) - 1) AS tms
        |  FROM m),
        |qn AS (
        |  SELECT event_id, tx, 31 - tms AS ty,
        |    least(4095, greatest(0, CAST(floor(round((mx - (tx * (2 * pi() * 6378137.0 / 32.0) - pi() * 6378137.0)) / (2 * pi() * 6378137.0 / 32.0) * 4096.0, 9)) AS BIGINT))) AS px,
        |    least(4095, greatest(0, CAST(floor(round((((tms + 1) * (2 * pi() * 6378137.0 / 32.0) - pi() * 6378137.0) - my) / (2 * pi() * 6378137.0 / 32.0) * 4096.0, 9)) AS BIGINT))) AS py
        |  FROM t),
        |d AS (
        |  SELECT tx, ty, px, py, event_id,
        |    px - coalesce(lag(px) OVER w, 0) AS dx,
        |    py - coalesce(lag(py) OVER w, 0) AS dy
        |  FROM qn WINDOW w AS (PARTITION BY tx, ty ORDER BY px, py, event_id)),
        |c AS (
        |  SELECT tx, ty, count(*) AS n_points,
        |    string_agg(
        |      CAST(CASE WHEN dx >= 0 THEN 2*dx ELSE -2*dx-1 END AS VARCHAR) || ',' ||
        |      CAST(CASE WHEN dy >= 0 THEN 2*dy ELSE -2*dy-1 END AS VARCHAR),
        |      ',' ORDER BY px, py, event_id) AS body
        |  FROM d GROUP BY tx, ty)
        |SELECT tx, ty, CAST(n_points AS BIGINT) AS n_points,
        |  CAST(1 + 2 * n_points AS BIGINT) AS n_cmds,
        |  md5(CAST(n_points * 8 + 1 AS VARCHAR) || ',' || body) AS cmd_md5
        |FROM c""".stripMargin,
    "q_tile_math" ->
      """WITH pts AS (
        |  SELECT (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |         (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events),
        |m AS (
        |  SELECT lon * (pi() * 6378137.0) / 180.0 AS mx,
        |         ln(tan((90.0 + lat) * pi() / 360.0)) / (pi() / 180.0) * (pi() * 6378137.0) / 180.0 AS my
        |  FROM pts WHERE lat > -85.0 AND lat < 85.0),
        |t AS (
        |  SELECT greatest(0, CAST(ceil(((mx + pi() * 6378137.0) / ((2 * pi() * 6378137.0 / 256.0) / 1024)) / 256.0) AS BIGINT) - 1) AS tx,
        |         1023 - greatest(0, CAST(ceil(((my + pi() * 6378137.0) / ((2 * pi() * 6378137.0 / 256.0) / 1024)) / 256.0) AS BIGINT) - 1) AS ty_xyz
        |  FROM m)
        |SELECT tx, ty_xyz, count(*) AS n FROM t GROUP BY tx, ty_xyz""".stripMargin,
    "q_tile_pyramid" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 400 AS DOUBLE) AS x,
        |         CAST((event_id // 400) % 400 AS DOUBLE) AS y,
        |         value
        |  FROM events),
        |mm AS (SELECT min(value) AS mn, max(value) AS mxv FROM px),
        |plane AS (
        |  SELECT
        |    CASE WHEN mxv - mn <= 0 THEN 0
        |         ELSE least(255, greatest(0, CAST(round((value - mn) / (mxv - mn) * 255.0) AS INT))) END AS byte,
        |    -10.0 + (x + 0.5) * 0.001 AS lon,
        |    40.0 - (y + 0.5) * 0.001 AS lat
        |  FROM px, mm),
        |m AS (
        |  SELECT byte,
        |    lon * (pi() * 6378137.0) / 180.0 AS mxm,
        |    ln(tan((90.0 + lat) * pi() / 360.0)) / (pi() / 180.0) * (pi() * 6378137.0) / 180.0 AS mym
        |  FROM plane),
        |zoomed AS (SELECT byte, mxm, mym, z FROM m CROSS JOIN (SELECT unnest([12, 13, 14]) AS z) zs),
        |t AS (
        |  SELECT z,
        |    greatest(0, CAST(ceil(((mxm + pi() * 6378137.0) / ((2 * pi() * 6378137.0 / 256.0) / power(2, z)) ) / 256.0) AS BIGINT) - 1) AS tx,
        |    CAST(power(2, z) AS BIGINT) - 1
        |      - greatest(0, CAST(ceil(((mym + pi() * 6378137.0) / ((2 * pi() * 6378137.0 / 256.0) / power(2, z)) ) / 256.0) AS BIGINT) - 1) AS ty,
        |    byte
        |  FROM zoomed)
        |SELECT z, tx, ty, CAST(count(*) AS BIGINT) AS n_px,
        |  min(byte) AS byte_min, max(byte) AS byte_max,
        |  round(avg(byte), 4) AS byte_mean
        |FROM t GROUP BY z, tx, ty""".stripMargin,
    "q_haversine" ->
      """WITH pts AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    (event_id * 7919 % 36000) / 100.0 - 180.0 + 0.005 AS lon,
        |    (event_id * 104729 % 18000) / 100.0 - 90.0 + 0.005 AS lat
        |  FROM events),
        |lagged AS (
        |  SELECT event_type, lon, lat,
        |    lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
        |    lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
        |  FROM pts),
        |d AS (
        |  SELECT event_type,
        |    2.0 * 6371000.0 * asin(sqrt(
        |      sin((lat - plat) * pi() / 180.0 / 2.0) * sin((lat - plat) * pi() / 180.0 / 2.0)
        |      + cos(plat * pi() / 180.0) * cos(lat * pi() / 180.0)
        |        * sin((lon - plon) * pi() / 180.0 / 2.0) * sin((lon - plon) * pi() / 180.0 / 2.0))) AS dist_m
        |  FROM lagged WHERE plon IS NOT NULL)
        |SELECT event_type, round(avg(dist_m), 4) AS avg_dist_m, count(*) AS n
        |FROM d GROUP BY event_type""".stripMargin,
    "q_media_features" ->
      """SELECT doc_id AS media_id,
        |  round(list_avg(cs), 4) AS pixel_mean,
        |  round(sqrt(greatest(0.0, list_avg([CAST(c AS DOUBLE) * c for c in cs])
        |                           - list_avg(cs) * list_avg(cs))), 4) AS pixel_std,
        |  length(text) AS payload_bytes
        |FROM (
        |  SELECT doc_id, text,
        |    [unicode(text[i]) for i in range(1, length(text) + 1)] AS cs
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text))""".stripMargin,
    "q_lang_id" ->
      """WITH scored AS (
        |  SELECT
        |    len(t) AS nt,
        |    len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','it','was','for'], x)))::DOUBLE / len(t) AS s_en,
        |    len(list_filter(t, x -> list_contains(['el','la','de','que','y','en','un','los','se','del'], x)))::DOUBLE / len(t) AS s_es,
        |    len(list_filter(t, x -> list_contains(['le','la','de','et','les','des','est','un','une','du'], x)))::DOUBLE / len(t) AS s_fr,
        |    len(list_filter(t, x -> list_contains(['der','die','und','das','ist','von','den','mit','ein','zu'], x)))::DOUBLE / len(t) AS s_de
        |  FROM (SELECT regexp_extract_all(lower(text), '\w+') AS t FROM documents))
        |SELECT lang_pred, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN nt = 0 OR greatest(s_en, s_es, s_fr, s_de) <= 0.0 THEN 'und'
        |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
        |    WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
        |    WHEN s_fr >= s_de THEN 'fr'
        |    ELSE 'de' END AS lang_pred
        |  FROM scored)
        |GROUP BY lang_pred""".stripMargin,
    "q_fingerprint" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN []
        |         ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END AS g
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents)),
        |hashes AS (
        |  SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in g] AS h FROM grams),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) = 0 THEN []
        |         WHEN len(h) <= 4 THEN [list_min(h)]
        |         ELSE list_sort(list_distinct([list_min(h[i:i+3]) for i in range(1, len(h) - 2)]))
        |    END AS f
        |  FROM hashes)
        |SELECT doc_id, CAST(len(f) AS INT) AS n_fingerprints,
        |  md5(array_to_string(f, ',')) AS fp_digest
        |FROM fp""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH sh0 AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS s
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS shingle FROM sh0),
        |df AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle),
        |f AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle) WHERE df.c BETWEEN 2 AND 64),
        |cnt AS (SELECT doc_id, count(*) AS c FROM f GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        |  FROM f a JOIN f b USING (shingle) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |  round(i::DOUBLE / (ca.c + cb.c - i), 4) AS jaccard
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = ia
        |JOIN cnt cb ON cb.doc_id = ib
        |WHERE i::DOUBLE / (ca.c + cb.c - i) >= 0.6""".stripMargin,
    "q_frame_sample" ->
      """SELECT media_id, CAST(i AS INT) AS frame_idx,
        |  CAST(least((len * i) // 4 + 16, len) - (len * i) // 4 AS INT) AS frame_bytes
        |FROM (
        |  SELECT doc_id AS media_id, length(text) AS len, unnest(range(4)) AS i
        |  FROM documents
        |  WHERE length(text) > 0 AND octet_length(encode(text)) = length(text))""".stripMargin,
    "q_pipeline" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CASE WHEN length(text) > 0
        |      THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
        |      ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN length(regexp_extract_all(text, '\w+')) > 0
        |      THEN CAST(length(list_filter(regexp_extract_all(text, '\w+'),
        |           w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(w)))) AS DOUBLE)
        |           / length(regexp_extract_all(text, '\w+'))
        |      ELSE 0.0 END AS stopword_ratio
        |  FROM documents),
        |gated AS (
        |  SELECT * FROM q
        |  WHERE n_chars >= 100.0 AND punct_ratio <= 0.2 AND stopword_ratio >= 0.01),
        |dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gated) WHERE rn = 1)
        |SELECT lang, count(*) AS docs_kept,
        |  CAST(sum(length(regexp_extract_all(text, '\w+'))) AS BIGINT) AS total_tokens,
        |  round(avg(stopword_ratio), 6) AS avg_stopword_ratio
        |FROM dedup GROUP BY lang""".stripMargin,
    "q_phash" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  WHERE octet_length(encode(text)) = length(text) AND length(text) > 0),
        |g AS (
        |  SELECT media_id,
        |    [ascii(substr(text, (i % length(text)) + 1, 1)) for i in range(0, 66)] AS g
        |  FROM m)
        |SELECT media_id,
        |    (CASE WHEN g[1] < g[2] THEN (1::BIGINT << 0) ELSE 0 END) +
        |    (CASE WHEN g[2] < g[3] THEN (1::BIGINT << 1) ELSE 0 END) +
        |    (CASE WHEN g[3] < g[4] THEN (1::BIGINT << 2) ELSE 0 END) +
        |    (CASE WHEN g[4] < g[5] THEN (1::BIGINT << 3) ELSE 0 END) +
        |    (CASE WHEN g[5] < g[6] THEN (1::BIGINT << 4) ELSE 0 END) +
        |    (CASE WHEN g[6] < g[7] THEN (1::BIGINT << 5) ELSE 0 END) +
        |    (CASE WHEN g[7] < g[8] THEN (1::BIGINT << 6) ELSE 0 END) +
        |    (CASE WHEN g[8] < g[9] THEN (1::BIGINT << 7) ELSE 0 END) +
        |    (CASE WHEN g[9] < g[10] THEN (1::BIGINT << 8) ELSE 0 END) +
        |    (CASE WHEN g[10] < g[11] THEN (1::BIGINT << 9) ELSE 0 END) +
        |    (CASE WHEN g[12] < g[13] THEN (1::BIGINT << 10) ELSE 0 END) +
        |    (CASE WHEN g[13] < g[14] THEN (1::BIGINT << 11) ELSE 0 END) +
        |    (CASE WHEN g[14] < g[15] THEN (1::BIGINT << 12) ELSE 0 END) +
        |    (CASE WHEN g[15] < g[16] THEN (1::BIGINT << 13) ELSE 0 END) +
        |    (CASE WHEN g[16] < g[17] THEN (1::BIGINT << 14) ELSE 0 END) +
        |    (CASE WHEN g[17] < g[18] THEN (1::BIGINT << 15) ELSE 0 END) +
        |    (CASE WHEN g[18] < g[19] THEN (1::BIGINT << 16) ELSE 0 END) +
        |    (CASE WHEN g[19] < g[20] THEN (1::BIGINT << 17) ELSE 0 END) +
        |    (CASE WHEN g[20] < g[21] THEN (1::BIGINT << 18) ELSE 0 END) +
        |    (CASE WHEN g[21] < g[22] THEN (1::BIGINT << 19) ELSE 0 END) +
        |    (CASE WHEN g[23] < g[24] THEN (1::BIGINT << 20) ELSE 0 END) +
        |    (CASE WHEN g[24] < g[25] THEN (1::BIGINT << 21) ELSE 0 END) +
        |    (CASE WHEN g[25] < g[26] THEN (1::BIGINT << 22) ELSE 0 END) +
        |    (CASE WHEN g[26] < g[27] THEN (1::BIGINT << 23) ELSE 0 END) +
        |    (CASE WHEN g[27] < g[28] THEN (1::BIGINT << 24) ELSE 0 END) +
        |    (CASE WHEN g[28] < g[29] THEN (1::BIGINT << 25) ELSE 0 END) +
        |    (CASE WHEN g[29] < g[30] THEN (1::BIGINT << 26) ELSE 0 END) +
        |    (CASE WHEN g[30] < g[31] THEN (1::BIGINT << 27) ELSE 0 END) +
        |    (CASE WHEN g[31] < g[32] THEN (1::BIGINT << 28) ELSE 0 END) +
        |    (CASE WHEN g[32] < g[33] THEN (1::BIGINT << 29) ELSE 0 END) +
        |    (CASE WHEN g[34] < g[35] THEN (1::BIGINT << 30) ELSE 0 END) +
        |    (CASE WHEN g[35] < g[36] THEN (1::BIGINT << 31) ELSE 0 END) +
        |    (CASE WHEN g[36] < g[37] THEN (1::BIGINT << 32) ELSE 0 END) +
        |    (CASE WHEN g[37] < g[38] THEN (1::BIGINT << 33) ELSE 0 END) +
        |    (CASE WHEN g[38] < g[39] THEN (1::BIGINT << 34) ELSE 0 END) +
        |    (CASE WHEN g[39] < g[40] THEN (1::BIGINT << 35) ELSE 0 END) +
        |    (CASE WHEN g[40] < g[41] THEN (1::BIGINT << 36) ELSE 0 END) +
        |    (CASE WHEN g[41] < g[42] THEN (1::BIGINT << 37) ELSE 0 END) +
        |    (CASE WHEN g[42] < g[43] THEN (1::BIGINT << 38) ELSE 0 END) +
        |    (CASE WHEN g[43] < g[44] THEN (1::BIGINT << 39) ELSE 0 END) +
        |    (CASE WHEN g[45] < g[46] THEN (1::BIGINT << 40) ELSE 0 END) +
        |    (CASE WHEN g[46] < g[47] THEN (1::BIGINT << 41) ELSE 0 END) +
        |    (CASE WHEN g[47] < g[48] THEN (1::BIGINT << 42) ELSE 0 END) +
        |    (CASE WHEN g[48] < g[49] THEN (1::BIGINT << 43) ELSE 0 END) +
        |    (CASE WHEN g[49] < g[50] THEN (1::BIGINT << 44) ELSE 0 END) +
        |    (CASE WHEN g[50] < g[51] THEN (1::BIGINT << 45) ELSE 0 END) +
        |    (CASE WHEN g[51] < g[52] THEN (1::BIGINT << 46) ELSE 0 END) +
        |    (CASE WHEN g[52] < g[53] THEN (1::BIGINT << 47) ELSE 0 END) +
        |    (CASE WHEN g[53] < g[54] THEN (1::BIGINT << 48) ELSE 0 END) +
        |    (CASE WHEN g[54] < g[55] THEN (1::BIGINT << 49) ELSE 0 END) +
        |    (CASE WHEN g[56] < g[57] THEN (1::BIGINT << 50) ELSE 0 END) +
        |    (CASE WHEN g[57] < g[58] THEN (1::BIGINT << 51) ELSE 0 END) +
        |    (CASE WHEN g[58] < g[59] THEN (1::BIGINT << 52) ELSE 0 END) +
        |    (CASE WHEN g[59] < g[60] THEN (1::BIGINT << 53) ELSE 0 END) +
        |    (CASE WHEN g[60] < g[61] THEN (1::BIGINT << 54) ELSE 0 END) +
        |    (CASE WHEN g[61] < g[62] THEN (1::BIGINT << 55) ELSE 0 END) +
        |    (CASE WHEN g[62] < g[63] THEN (1::BIGINT << 56) ELSE 0 END) +
        |    (CASE WHEN g[63] < g[64] THEN (1::BIGINT << 57) ELSE 0 END) +
        |    (CASE WHEN g[64] < g[65] THEN (1::BIGINT << 58) ELSE 0 END) +
        |    (CASE WHEN g[65] < g[66] THEN (1::BIGINT << 59) ELSE 0 END) AS phash
        |FROM g ORDER BY media_id""".stripMargin,
    "q_thumb" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(100 + doc_id % 900 AS INTEGER) AS w,
        |    CAST(100 + (doc_id * 7) % 900 AS INTEGER) AS h
        |  FROM documents WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)),
        |d AS (
        |  SELECT media_id, text,
        |    CASE WHEN w > h THEN 256
        |         ELSE greatest(1, CAST(trunc(CAST(256 AS DOUBLE) / h * w) AS INTEGER)) END AS ow,
        |    CASE WHEN w > h THEN greatest(1, CAST(trunc(CAST(256 AS DOUBLE) / w * h) AS INTEGER))
        |         ELSE 256 END AS oh
        |  FROM m)
        |SELECT media_id, CAST(ow AS INTEGER) AS thumb_w, CAST(oh AS INTEGER) AS thumb_h,
        |  md5(substr(repeat(text, (ow * oh // length(text)) + 1), 1, ow * oh)) AS thumb_md5
        |FROM d ORDER BY media_id""".stripMargin,
    "q_resize" ->
      """SELECT doc_id AS media_id,
        |  md5(substr(repeat(text, 32 // length(text) + 1), 1, 32)) AS resized_md5
        |FROM documents
        |WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)""".stripMargin,
    "q_upsert" ->
      """WITH idx AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path, CAST(value AS VARCHAR) AS hash,
        |         event_id % 1000 AS mtime, 0 AS src
        |  FROM events),
        |inc AS (
        |  SELECT CAST(event_id AS VARCHAR), CAST(value + 7.0 AS VARCHAR), event_id % 1000 + 5, 1
        |  FROM events WHERE event_id % 4 = 0
        |  UNION ALL
        |  SELECT CAST(event_id AS VARCHAR), CAST(value + 3.0 AS VARCHAR), event_id % 1000, 1
        |  FROM events WHERE event_id % 6 = 0 AND event_id % 4 <> 0
        |  UNION ALL
        |  SELECT 'new/' || event_id, CAST(value AS VARCHAR), event_id % 1000, 1
        |  FROM events WHERE event_id % 9 = 0),
        |u AS (SELECT * FROM idx UNION ALL SELECT * FROM inc)
        |SELECT path, hash, mtime FROM (
        |  SELECT path, hash, mtime,
        |    row_number() OVER (PARTITION BY path ORDER BY mtime DESC, src DESC) AS rn
        |  FROM u)
        |WHERE rn = 1""".stripMargin,
    "q_apply_delta" ->
      """WITH l AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path, CAST(value AS VARCHAR) AS hash FROM events),
        |a AS (
        |  SELECT CAST(event_id AS VARCHAR) AS path, CAST(value + 1.0 AS VARCHAR) AS hash
        |  FROM events WHERE event_id % 11 = 0),
        |r AS (SELECT CAST(event_id AS VARCHAR) AS path FROM events WHERE event_id % 23 = 0)
        |SELECT coalesce(l.path, a.path) AS path, coalesce(a.hash, l.hash) AS hash
        |FROM l FULL OUTER JOIN a ON l.path = a.path
        |WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.path = coalesce(l.path, a.path))""".stripMargin,
    "q_meta_list" ->
      """SELECT path, key, count(*) AS "count" FROM (
        |  SELECT 'u' || CAST(user_id % 50 AS VARCHAR) AS path, event_type || 's' AS key
        |  FROM events)
        |GROUP BY path, key""".stripMargin,
    "q_stac_page" ->
      """WITH e AS (
        |  SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS path,
        |         (event_id * 7919) % 36000 / 100.0 - 180.0 + 0.005 AS lon,
        |         (event_id * 104729) % 18000 / 100.0 - 90.0 + 0.005 AS lat,
        |         epoch_us(ts) // 1000000 AS instant
        |  FROM events),
        |f AS (
        |  SELECT * FROM e
        |  WHERE lon >= -90.0 AND lon <= 90.0 AND lat >= -45.0 AND lat <= 45.0
        |    AND instant >= 1704844800)
        |SELECT path, lon, lat, instant, matched FROM (
        |  SELECT *, count(*) OVER () AS matched FROM f)
        |ORDER BY path LIMIT 10 OFFSET 3""".stripMargin,
    "q_volume" ->
      """SELECT round(cut, 2) AS cut, round(fill, 2) AS fill,
        |  round(cut - fill, 2) AS volume, CAST(n AS BIGINT) AS area_pixels
        |FROM (
        |  SELECT coalesce(sum(CASE WHEN d > 0 THEN d END), 0.0) AS cut,
        |         coalesce(abs(sum(CASE WHEN d < 0 THEN d END)), 0.0) AS fill,
        |         count(*) AS n
        |  FROM (SELECT (value - 50.0) * 0.25 AS d FROM events))""".stripMargin,
    "q_profile" ->
      """WITH seg AS (
        |  SELECT 2.0 * 6371000.0 * asin(sqrt(
        |      sin((-0.5) * pi() / 180.0 / 2.0) * sin((-0.5) * pi() / 180.0 / 2.0)
        |      + cos(0.0 * pi() / 180.0) * cos((-0.5) * pi() / 180.0)
        |        * sin(0.5 * pi() / 180.0 / 2.0) * sin(0.5 * pi() / 180.0 / 2.0)
        |    )) / 63 AS m),
        |pts AS (
        |  SELECT CAST(i AS INT) AS i, i / 63.0 AS frac FROM range(64) t(i)),
        |geo AS (
        |  SELECT i, 0.0 + (0.5 - 0.0) * frac AS lon, 0.0 + (-0.5 - 0.0) * frac AS lat FROM pts),
        |px AS (
        |  SELECT i, lon, lat,
        |    CAST(floor((lon - 0.0) / 0.01) AS INT) AS px,
        |    CAST(floor((lat - 0.0) / (-0.01)) AS INT) AS py
        |  FROM geo)
        |SELECT i, round(lon, 6) AS lon, round(lat, 6) AS lat,
        |  round(i * seg.m, 4) AS distance,
        |  CASE WHEN px BETWEEN 0 AND 99 AND py BETWEEN 0 AND 99
        |       THEN CAST((px * 7 + py * 13) % 101 AS DOUBLE) END AS value
        |FROM px, seg""".stripMargin,
    "q_rescale" ->
      """WITH mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
        |SELECT byte, count(*) AS n FROM (
        |  SELECT least(255, greatest(0,
        |    CAST(round((l_extendedprice - mn) / (mx - mn) * 255.0) AS INT))) AS byte
        |  FROM lineitem, mm)
        |GROUP BY byte""".stripMargin,
    "q_iso_format" ->
      """WITH t AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN 0 ELSE epoch_us(ts) // 1000 END AS ct_ms,
        |         epoch_us(ts) // 1000000 AS mtime_s
        |  FROM events),
        |iso AS (
        |  SELECT CASE WHEN ct_ms > 0
        |    THEN strftime(make_timestamp(ct_ms * 1000), '%Y-%m-%dT%H:%M:%SZ')
        |    ELSE strftime(make_timestamp(mtime_s * 1000000), '%Y-%m-%dT%H:%M:%SZ') END AS iso
        |  FROM t)
        |SELECT substr(iso, 1, 10) AS day, count(*) AS n,
        |  min(iso) AS first_iso, max(iso) AS last_iso
        |FROM iso GROUP BY 1""".stripMargin,
    "q_ann_batch" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, v.vec_id AS corpus_id,
        |    round(list_cosine_similarity(v.e, q.qe), 6) AS cos_sim
        |  FROM v, q WHERE v.vec_id <> q.query_id)
        |SELECT query_id, corpus_id, cos_sim, rank FROM (
        |  SELECT query_id, corpus_id, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_sim DESC, corpus_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 3""".stripMargin,
    "q_ann_refine" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS cell_id, e AS c FROM v WHERE vec_id < 8),
        |d AS (
        |  SELECT v.vec_id, cent.cell_id,
        |    list_sum([(v.e[i] - cent.c[i]) * (v.e[i] - cent.c[i]) for i in range(1, 65)]) AS dist
        |  FROM v, cent),
        |asg AS (
        |  SELECT vec_id, cell_id FROM (
        |    SELECT vec_id, cell_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rk
        |    FROM d) WHERE rk = 1),
        |dims AS (
        |  SELECT asg.cell_id, t.j, avg(v.e[t.j]) AS m
        |  FROM asg JOIN v USING (vec_id), range(1, 65) t(j)
        |  GROUP BY asg.cell_id, t.j),
        |norms AS (
        |  SELECT cell_id, round(sqrt(sum(m * m)), 6) AS centroid_norm
        |  FROM dims GROUP BY cell_id),
        |counts AS (SELECT cell_id, count(*) AS n_assigned FROM asg GROUP BY cell_id)
        |SELECT norms.cell_id, centroid_norm, n_assigned
        |FROM norms JOIN counts ON norms.cell_id = counts.cell_id""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH $ivfAsgCtes,
        |q AS (SELECT e FROM v WHERE vec_id = 0),
        |cd AS (
        |  SELECT cell_id,
        |    list_sum([(c[i] - q.e[i]) * (c[i] - q.e[i]) for i in range(1, 65)]) AS dist
        |  FROM cent, q),
        |probe AS (SELECT cell_id FROM cd ORDER BY dist, cell_id LIMIT 2),
        |res AS (
        |  SELECT v.vec_id, list_cosine_similarity(v.e, q.e) AS cs
        |  FROM asg JOIN probe USING (cell_id) JOIN v ON v.vec_id = asg.vec_id CROSS JOIN q)
        |SELECT vec_id, round(cs, 6) AS cos_sim FROM res ORDER BY round(cs, 6) DESC, vec_id LIMIT 10""".stripMargin,
    // PQ-ADC: same seed codebook (sub-vector slices of vec_id < 16),
    // same quantized-argmin code assignment (round(dist,9) + code
    // tie-break), same asymmetric-distance table — DuckDB re-derives
    // the compressed-domain top-k end to end.
    "q_ann_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sub AS (
        |  SELECT vec_id, CAST(s AS INT) AS s, e[s*8+1:s*8+8] AS sv
        |  FROM v, (SELECT unnest(range(8)) AS s)),
        |cb AS (SELECT s, CAST(vec_id AS INT) AS code, sv AS c FROM sub WHERE vec_id < 16),
        |d AS (
        |  SELECT sub.vec_id, sub.s, cb.code,
        |    list_sum([(sub.sv[i] - cb.c[i]) * (sub.sv[i] - cb.c[i]) for i in range(1, 9)]) AS dist
        |  FROM sub JOIN cb USING (s)),
        |asg AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY round(dist, 9), code) AS rk
        |    FROM d) WHERE rk = 1),
        |q AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 0),
        |lut AS (
        |  SELECT cb.s, cb.code,
        |    list_sum([(q.qv[i] - cb.c[i]) * (q.qv[i] - cb.c[i]) for i in range(1, 9)]) AS pd
        |  FROM cb JOIN q USING (s)),
        |adc AS (SELECT asg.vec_id, sum(lut.pd) AS adist FROM asg JOIN lut USING (s, code) GROUP BY asg.vec_id)
        |SELECT vec_id, round(adist, 6) AS adc_dist FROM adc WHERE vec_id <> 0
        |ORDER BY round(adist, 6), vec_id LIMIT 10""".stripMargin,
    // IVF-PQ end to end: coarse assignment (ivfAsgCtes), residual
    // vectors, residual seed codebook, quantized-argmin codes, 2-cell
    // probe, per-cell residual LUTs, round-9 ADC shortlist of 50,
    // exact-cosine re-rank — the q_ann_ivf and q_ann_pq oracles
    // composed.
    "q_ann_ivfpq" ->
      s"""WITH $ivfAsgCtes,
        |res AS (
        |  SELECT asg.vec_id, asg.cell_id, [v.e[i] - cent.c[i] for i in range(1, 65)] AS r
        |  FROM asg JOIN v USING (vec_id) JOIN cent USING (cell_id)),
        |sub AS (
        |  SELECT vec_id, cell_id, CAST(s AS INT) AS s, r[s*8+1:s*8+8] AS sv
        |  FROM res, (SELECT unnest(range(8)) AS s)),
        |cb AS (SELECT s, CAST(vec_id AS INT) AS code, sv AS c FROM sub WHERE vec_id < 16),
        |cd2 AS (
        |  SELECT sub.vec_id, sub.s, cb.code,
        |    list_sum([(sub.sv[i] - cb.c[i]) * (sub.sv[i] - cb.c[i]) for i in range(1, 9)]) AS dist
        |  FROM sub JOIN cb USING (s)),
        |pasg AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY round(dist, 9), code) AS rk
        |    FROM cd2) WHERE rk = 1),
        |q AS (SELECT e FROM v WHERE vec_id = 0),
        |qcd AS (
        |  SELECT cell_id,
        |    list_sum([(c[i] - q.e[i]) * (c[i] - q.e[i]) for i in range(1, 65)]) AS dist
        |  FROM cent, q),
        |probe AS (SELECT cell_id FROM qcd ORDER BY dist, cell_id LIMIT 2),
        |qres AS (
        |  SELECT probe.cell_id, [q.e[i] - cent.c[i] for i in range(1, 65)] AS qr
        |  FROM probe JOIN cent USING (cell_id), q),
        |qsub AS (
        |  SELECT cell_id, CAST(s AS INT) AS s, qr[s*8+1:s*8+8] AS qv
        |  FROM qres, (SELECT unnest(range(8)) AS s)),
        |lut AS (
        |  SELECT qsub.cell_id, cb.s, cb.code,
        |    list_sum([(qsub.qv[i] - cb.c[i]) * (qsub.qv[i] - cb.c[i]) for i in range(1, 9)]) AS pd
        |  FROM qsub JOIN cb ON cb.s = qsub.s),
        |adc AS (
        |  SELECT pasg.vec_id, sum(lut.pd) AS adist
        |  FROM pasg
        |  JOIN (SELECT DISTINCT vec_id, cell_id FROM sub) sc USING (vec_id)
        |  JOIN lut ON lut.cell_id = sc.cell_id AND lut.s = pasg.s AND lut.code = pasg.code
        |  GROUP BY 1),
        |short AS (SELECT vec_id FROM adc ORDER BY round(adist, 9), vec_id LIMIT 50),
        |rr AS (
        |  SELECT v.vec_id, list_cosine_similarity(v.e, q.e) AS cs
        |  FROM short JOIN v USING (vec_id) CROSS JOIN q)
        |SELECT vec_id, round(cs, 6) AS cos_sim FROM rr
        |ORDER BY round(cs, 6) DESC, vec_id LIMIT 10""".stripMargin,
    // SQ8: same per-dim min/max bounds, same quantize-before-floor int8
    // codes, same asymmetric dequantized distances.
    "q_ann_sq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |vals AS (SELECT vec_id, generate_subscripts(e, 1) AS d, unnest(e) AS x FROM v),
        |b AS (SELECT d, min(x) AS lo, max(x) AS hi, (max(x) - min(x)) / 255.0 AS step FROM vals GROUP BY d),
        |c AS (
        |  SELECT vec_id, vals.d,
        |    CASE WHEN b.step = 0 THEN 0
        |         ELSE least(greatest(CAST(floor(round((vals.x - b.lo) / b.step, 9)) AS BIGINT), 0), 255) END AS code
        |  FROM vals JOIN b USING (d)),
        |q AS (SELECT d, x AS qx FROM vals WHERE vec_id = 0),
        |adc AS (
        |  SELECT c.vec_id,
        |    sum((q.qx - (b.lo + c.code * b.step)) * (q.qx - (b.lo + c.code * b.step))) AS adist
        |  FROM c JOIN b USING (d) JOIN q USING (d) GROUP BY c.vec_id)
        |SELECT vec_id, round(adist, 6) AS sq_dist FROM adc WHERE vec_id <> 0
        |ORDER BY round(adist, 6), vec_id LIMIT 10""".stripMargin,
    // Stockpile detect-all: identical synthetic DSM (exact dyadic
    // arithmetic end-to-end), identical binomial smoothing + adaptive
    // threshold; connected components via recursive reachability
    // closure with the same min-pixel-id label rule the Spark
    // fixpoint converges to.
    "q_stockpile" ->
      """WITH RECURSIVE
        |k AS (SELECT * FROM (VALUES (-2, 6.25e-2), (-1, 2.5e-1), (0, 3.75e-1), (1, 2.5e-1), (2, 6.25e-2)) AS t(kk, w)),
        |g AS (
        |  SELECT CAST(i % 64 AS INT) AS x, CAST(i // 64 AS INT) AS y,
        |    1e2
        |    + 2.5e-1 * greatest(0, 36 - ((i % 64 - 12) * (i % 64 - 12) + (i // 64 - 12) * (i // 64 - 12)))
        |    + 1.25e-1 * greatest(0, 64 - ((i % 64 - 44) * (i % 64 - 44) + (i // 64 - 14) * (i // 64 - 14)))
        |    + 2.5e-1 * greatest(0, 25 - ((i % 64 - 14) * (i % 64 - 14) + (i // 64 - 46) * (i // 64 - 46)))
        |    + 2.5e-1 * greatest(0, 49 - ((i % 64 - 52) * (i % 64 - 52) + (i // 64 - 48) * (i // 64 - 48)))
        |    + 2.5e-1 * greatest(0, 25 - ((i % 64 - 28) * (i % 64 - 28) + (i // 64 - 34) * (i // 64 - 34)))
        |    + 2.5e-1 * greatest(0, 25 - ((i % 64 - 33) * (i % 64 - 33) + (i // 64 - 34) * (i // 64 - 34)))
        |    + 5e-1 * greatest(0, 2 - ((i % 64 - 4) * (i % 64 - 4) + (i // 64 - 58) * (i // 64 - 58))) AS v
        |  FROM (SELECT unnest(range(4096)) AS i)),
        |b AS (SELECT avg(v) AS base FROM g WHERE x = 0 OR x = 63 OR y = 0 OR y = 63),
        |d0 AS (SELECT x, y, v - base AS d FROM g, b),
        |h AS (
        |  SELECT o.x, o.y, sum(k.w * s.d) AS d
        |  FROM d0 o CROSS JOIN k JOIN d0 s
        |    ON s.x = least(63, greatest(0, o.x + k.kk)) AND s.y = o.y
        |  GROUP BY o.x, o.y),
        |sm AS (
        |  SELECT o.x, o.y, sum(k.w * s.d) AS d
        |  FROM h o CROSS JOIN k JOIN h s
        |    ON s.y = least(63, greatest(0, o.y + k.kk)) AND s.x = o.x
        |  GROUP BY o.x, o.y),
        |t AS (SELECT avg(d) AS mp FROM sm WHERE d > 0),
        |fg AS (SELECT x, y, d, y * 64 + x AS id FROM sm, t WHERE d > mp * (1.5e0 - 6e-1)),
        |reach AS (
        |  SELECT id, id AS lab FROM fg
        |  UNION
        |  SELECT f.id, r.lab FROM reach r JOIN fg f
        |    ON abs(f.x - (r.id % 64)) + abs(f.y - (r.id // 64)) = 1),
        |lab AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
        |p AS (SELECT fg.x, fg.y, fg.d, fg.id, lab.lab FROM fg JOIN lab ON lab.id = fg.id),
        |deg AS (
        |  SELECT a.id, count(b.id) AS nb
        |  FROM p a LEFT JOIN p b ON abs(a.x - b.x) + abs(a.y - b.y) = 1
        |  GROUP BY a.id),
        |st AS (
        |  SELECT lab, count(*) AS pc,
        |    sum(CASE WHEN d > 0 THEN d * 2.5e-1 ELSE 0e0 END) AS vol,
        |    sum(x) AS sx, sum(y) AS sy, max(d) AS mx
        |  FROM p GROUP BY lab),
        |bnd AS (
        |  SELECT p.lab, count(*) AS bpx FROM p JOIN deg ON deg.id = p.id
        |  WHERE deg.nb < 4 GROUP BY p.lab),
        |res AS (
        |  SELECT st.lab, st.pc, st.vol, st.sx, st.sy, st.mx, bnd.bpx, t.mp
        |  FROM st JOIN bnd ON bnd.lab = st.lab CROSS JOIN t
        |  WHERE st.pc >= 4 AND st.pc * 2.5e-1 >= 1e0)
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY vol DESC, lab) AS INT) AS id,
        |    CAST(pc AS BIGINT) AS pixel_count,
        |    round(pc * 2.5e-1, 4) AS area_m2,
        |    round(vol, 4) AS est_volume,
        |    round(CAST(sx AS DOUBLE) / pc, 4) AS centroid_x,
        |    round(CAST(sy AS DOUBLE) / pc, 4) AS centroid_y,
        |    round(mx, 4) AS max_diff,
        |    round(least(1e0, greatest(0e0,
        |      3e-1 + 4e-1 * least(1e0, (4 * pi()) * pc / (bpx * bpx))
        |            + 3e-1 * least(1e0, mx / greatest(1e-6, mp * 4)))), 6) AS confidence
        |  FROM res)
        |WHERE id <= 10""".stripMargin,
    // Align RANSAC+Umeyama: same raw-sum closed form (cos/sin from
    // a/sqrt(a²+b²), no libm trig), same md5-selected candidate
    // subset, same (inliers desc, pair asc) tie-break. All fixture
    // constants dyadic → every aggregation sum exact in both engines.
    "q_align" ->
      """WITH raw AS (
        |  SELECT event_id AS tp_id,
        |    CAST(event_id % 100 AS DOUBLE) AS px,
        |    CAST((event_id // 100) % 100 AS DOUBLE) AS py
        |  FROM events),
        |pts AS (
        |  SELECT tp_id, px, py,
        |    1.25e0 * (6e-1 * px - 8e-1 * py) + 1e1
        |      + CAST((tp_id * 7919) % 13 - 6 AS DOUBLE) / 64
        |      + CASE WHEN tp_id % 10 = 3 THEN 4e1 + CAST(tp_id % 5 AS DOUBLE) ELSE 0e0 END AS qx,
        |    1.25e0 * (8e-1 * px + 6e-1 * py) - 5e0
        |      + CAST((tp_id * 104729) % 13 - 6 AS DOUBLE) / 64
        |      + CASE WHEN tp_id % 10 = 3 THEN -2.5e1 ELSE 0e0 END AS qy
        |  FROM raw),
        |cand AS (SELECT * FROM pts ORDER BY md5(CAST(tp_id AS VARCHAR)) LIMIT 12),
        |pairs AS (
        |  SELECT a.tp_id AS ida, b.tp_id AS idb,
        |    a.px AS pxa, a.py AS pya, a.qx AS qxa, a.qy AS qya,
        |    b.px AS pxb, b.py AS pyb, b.qx AS qxb, b.qy AS qyb
        |  FROM cand a JOIN cand b ON a.tp_id < b.tp_id),
        |msums AS (
        |  SELECT ida, idb, 2e0 AS n,
        |    pxa + pxb AS spx, pya + pyb AS spy, qxa + qxb AS sqx, qya + qyb AS sqy,
        |    (pxa * pxa + pya * pya) + (pxb * pxb + pyb * pyb) AS spp,
        |    qxa * pxa + qxb * pxb AS sqxpx,
        |    qxa * pya + qxb * pyb AS sqxpy,
        |    qya * pxa + qyb * pxb AS sqypx,
        |    qya * pya + qyb * pyb AS sqypy
        |  FROM pairs),
        |mab AS (
        |  SELECT ida, idb, n, spx, spy, sqx, sqy,
        |    spp - (spx * spx + spy * spy) / n AS sigma2p,
        |    sqxpx + sqypy - (sqx * spx + sqy * spy) / n AS a,
        |    sqypx - sqxpy - (sqy * spx - sqx * spy) / n AS b
        |  FROM msums),
        |mrot AS (
        |  SELECT ida, idb, n, spx, spy, sqx, sqy,
        |    CASE WHEN sigma2p > 1e-20 THEN sqrt(a * a + b * b) / sigma2p ELSE 1e0 END AS scale,
        |    CASE WHEN sqrt(a * a + b * b) > 0 THEN a / sqrt(a * a + b * b) ELSE 1e0 END AS cost,
        |    CASE WHEN sqrt(a * a + b * b) > 0 THEN b / sqrt(a * a + b * b) ELSE 0e0 END AS sint
        |  FROM mab),
        |models AS (
        |  SELECT ida, idb, scale, cost, sint,
        |    sqx / n - scale * (cost * (spx / n) - sint * (spy / n)) AS tx,
        |    sqy / n - scale * (sint * (spx / n) + cost * (spy / n)) AS ty
        |  FROM mrot),
        |counts AS (
        |  SELECT m.ida, m.idb, m.scale, m.cost, m.sint, m.tx, m.ty, count(*) AS inliers
        |  FROM pts p CROSS JOIN models m
        |  WHERE (m.scale * (m.cost * p.px - m.sint * p.py) + m.tx - p.qx)
        |        * (m.scale * (m.cost * p.px - m.sint * p.py) + m.tx - p.qx)
        |      + (m.scale * (m.sint * p.px + m.cost * p.py) + m.ty - p.qy)
        |        * (m.scale * (m.sint * p.px + m.cost * p.py) + m.ty - p.qy)
        |      < 4e0
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
        |best AS (SELECT * FROM counts ORDER BY inliers DESC, ida, idb LIMIT 1),
        |inl AS (
        |  SELECT p.tp_id, p.px, p.py, p.qx, p.qy
        |  FROM pts p CROSS JOIN best m
        |  WHERE (m.scale * (m.cost * p.px - m.sint * p.py) + m.tx - p.qx)
        |        * (m.scale * (m.cost * p.px - m.sint * p.py) + m.tx - p.qx)
        |      + (m.scale * (m.sint * p.px + m.cost * p.py) + m.ty - p.qy)
        |        * (m.scale * (m.sint * p.px + m.cost * p.py) + m.ty - p.qy)
        |      < 4e0),
        |fs AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(px) AS spx, sum(py) AS spy, sum(qx) AS sqx, sum(qy) AS sqy,
        |    sum(px * px + py * py) AS spp,
        |    sum(qx * px) AS sqxpx, sum(qx * py) AS sqxpy,
        |    sum(qy * px) AS sqypx, sum(qy * py) AS sqypy
        |  FROM inl),
        |fab AS (
        |  SELECT n, spx, spy, sqx, sqy,
        |    spp - (spx * spx + spy * spy) / n AS sigma2p,
        |    sqxpx + sqypy - (sqx * spx + sqy * spy) / n AS a,
        |    sqypx - sqxpy - (sqy * spx - sqx * spy) / n AS b
        |  FROM fs),
        |frot AS (
        |  SELECT n, spx, spy, sqx, sqy,
        |    CASE WHEN sigma2p > 1e-20 THEN sqrt(a * a + b * b) / sigma2p ELSE 1e0 END AS scale,
        |    CASE WHEN sqrt(a * a + b * b) > 0 THEN a / sqrt(a * a + b * b) ELSE 1e0 END AS cost,
        |    CASE WHEN sqrt(a * a + b * b) > 0 THEN b / sqrt(a * a + b * b) ELSE 0e0 END AS sint
        |  FROM fab),
        |tot AS (SELECT count(*) AS n_total FROM pts)
        |SELECT CAST(n AS BIGINT) AS inlier_count,
        |  n_total AS n_points,
        |  round(n / n_total, 6) AS inlier_ratio,
        |  round(scale, 6) AS scale,
        |  round(cost, 6) AS cos_theta,
        |  round(sint, 6) AS sin_theta,
        |  round(sqx / n - scale * (cost * (spx / n) - sint * (spy / n)), 6) AS tx,
        |  round(sqy / n - scale * (sint * (spx / n) + cost * (spy / n)), 6) AS ty
        |FROM frot CROSS JOIN tot""".stripMargin,
    // Sensor detection: same registry VALUES, same priority-desc
    // window, same RGBA/RGB short-circuits + multiband fallback.
    "q_sensor_detect" ->
      """WITH rasters AS (
        |  SELECT event_id AS raster_id,
        |    CAST(1 + event_id % 6 AS INT) AS band_count,
        |    CASE event_id % 3 WHEN 0 THEN 'Byte' WHEN 1 THEN 'UInt16' ELSE 'Float32' END AS data_type,
        |    CASE event_id % 5 WHEN 0 THEN 'Sensor: MicaSense RedEdge-M'
        |                      WHEN 1 THEN 'DJI Phantom multispectral rig'
        |                      WHEN 2 THEN 'FLIR thermal imager'
        |                      ELSE 'generic camera' END AS metadata,
        |    event_id % 7 = 0 AS last_band_alpha
        |  FROM events),
        |profiles AS (
        |  SELECT * FROM (VALUES
        |    ('micasense-rededge', 'multispectral', 100, 5, 'UInt16', ['RedEdge', 'MicaSense'], '3-2-1'),
        |    ('dji-multispectral', 'multispectral', 90, 4, 'UInt16', ['DJI'], '3-2-1'),
        |    ('flir-thermal', 'thermal', 80, 1, 'Float32', ['FLIR', 'thermal'], '1-1-1'),
        |    ('generic-5band', 'multispectral', 10, 5, 'UInt16', CAST([] AS VARCHAR[]), '3-2-1'),
        |    ('generic-4band', 'multispectral', 9, 4, 'UInt16', CAST([] AS VARCHAR[]), '3-2-1')
        |  ) AS t(sensor_id, category, priority, p_band_count, p_data_type, patterns, mapping)),
        |m AS (
        |  SELECT r.raster_id, r.band_count, r.data_type, r.last_band_alpha,
        |    p.sensor_id, p.category, p.mapping,
        |    row_number() OVER (PARTITION BY r.raster_id ORDER BY p.priority DESC) AS rn
        |  FROM rasters r LEFT JOIN profiles p
        |    ON (p.p_band_count = CASE WHEN r.last_band_alpha THEN r.band_count - 1 ELSE r.band_count END
        |        OR p.p_band_count = r.band_count)
        |   AND (p.p_data_type = '' OR p.p_data_type = r.data_type)
        |   AND (len(p.patterns) = 0 OR len(list_filter(p.patterns, x -> contains(r.metadata, x))) > 0)),
        |sel AS (
        |  SELECT raster_id,
        |    (band_count = 4 AND data_type = 'Byte' AND last_band_alpha)
        |      OR (band_count = 3 AND data_type = 'Byte') AS sc,
        |    sensor_id IS NOT NULL AS hit,
        |    band_count > 3 AND data_type <> 'Byte' AS fb_ok,
        |    sensor_id, category, mapping
        |  FROM m WHERE rn = 1)
        |SELECT
        |  CASE WHEN sc THEN FALSE WHEN hit THEN TRUE WHEN fb_ok THEN TRUE ELSE FALSE END AS detected,
        |  CASE WHEN NOT sc AND hit THEN sensor_id ELSE '' END AS sensor_id,
        |  CASE WHEN NOT sc AND hit THEN category
        |       WHEN NOT sc AND NOT hit AND fb_ok THEN 'multispectral' ELSE '' END AS category,
        |  CASE WHEN NOT sc AND hit THEN mapping
        |       WHEN NOT sc AND NOT hit AND fb_ok THEN '1-2-3' ELSE '' END AS mapping,
        |  count(*) AS n
        |FROM sel GROUP BY 1, 2, 3, 4""".stripMargin,
    // Band alignment: same ref-band window, same shift-source
    // priority (DJI RelOC > PrincipalPoint gated at 1.5 px), dyadic
    // offsets so the per-source aggregate sums are exact.
    "q_band_align" ->
      """WITH bands AS (
        |  SELECT event_id // 5 AS capture_id,
        |    CAST(event_id % 5 AS INT) AS band_idx,
        |    (event_id // 5) % 3 AS regime
        |  FROM events),
        |b2 AS (
        |  SELECT capture_id, band_idx,
        |    ['Blue','Green','Red','RedEdge','LWIR'][band_idx + 1] AS band_name,
        |    [475,560,668,717,10500][band_idx + 1] AS wavelength,
        |    CAST(band_idx AS DOUBLE) * (CASE WHEN regime = 1 THEN 1.5625e-2 ELSE 9.765625e-4 END) AS pp_x,
        |    CAST(band_idx AS DOUBLE) * (CASE WHEN regime = 1 THEN -1.5625e-2 ELSE 4.8828125e-4 END) AS pp_y,
        |    3.90625e-3 AS pitch_x, 3.90625e-3 AS pitch_y,
        |    TRUE AS has_pp, TRUE AS has_pitch,
        |    CAST(band_idx AS DOUBLE) / 8 AS roc_x,
        |    CAST(band_idx AS DOUBLE) / 16 AS roc_y,
        |    regime = 0 AS has_roc
        |  FROM bands),
        |wr AS (
        |  SELECT *,
        |    coalesce(
        |      min(CASE WHEN band_name = 'Green' OR (wavelength >= 540 AND wavelength <= 570)
        |               THEN band_idx END) OVER (PARTITION BY capture_id),
        |      min(band_idx) OVER (PARTITION BY capture_id)) AS ref_idx
        |  FROM b2),
        |rc AS (
        |  SELECT capture_id, pp_x AS ref_pp_x, pp_y AS ref_pp_y,
        |    (has_pp AND has_pitch) AS ref_has_pp,
        |    roc_x AS ref_roc_x, roc_y AS ref_roc_y, has_roc AS ref_has_roc
        |  FROM wr WHERE band_idx = ref_idx),
        |j AS (SELECT wr.*, rc.ref_pp_x, rc.ref_pp_y, rc.ref_has_pp, rc.ref_has_roc
        |      FROM wr JOIN rc USING (capture_id)),
        |ann AS (
        |  SELECT *,
        |    CASE WHEN has_pp AND has_pitch AND ref_has_pp AND band_idx <> ref_idx
        |         THEN greatest(abs((pp_x - ref_pp_x) / pitch_x), abs((pp_y - ref_pp_y) / pitch_y))
        |    END AS pp_shift_abs
        |  FROM j),
        |ann2 AS (
        |  SELECT *,
        |    coalesce(max(pp_shift_abs) OVER (PARTITION BY capture_id), 0e0) AS max_pp_shift,
        |    min(CASE WHEN has_pp AND has_pitch THEN 1 ELSE 0 END) OVER (PARTITION BY capture_id) = 1 AS all_have_pp,
        |    max(CASE WHEN has_roc THEN 1 ELSE 0 END) OVER (PARTITION BY capture_id) = 1 AS any_roc,
        |    CASE WHEN ref_has_roc THEN ref_idx
        |         ELSE min(CASE WHEN has_roc THEN band_idx END) OVER (PARTITION BY capture_id)
        |    END AS dji_ref_idx
        |  FROM ann),
        |dr AS (SELECT capture_id, roc_x AS dref_x, roc_y AS dref_y
        |       FROM ann2 WHERE band_idx = dji_ref_idx),
        |fin AS (
        |  SELECT a.*, dr.dref_x, dr.dref_y,
        |    CASE WHEN any_roc THEN 'DJI_RelativeOpticalCenter'
        |         WHEN max_pp_shift > 1.5 AND all_have_pp THEN 'PrincipalPoint'
        |         ELSE 'none' END AS src
        |  FROM ann2 a LEFT JOIN dr USING (capture_id)),
        |outp AS (
        |  SELECT capture_id, band_idx, band_name,
        |    (band_name = 'LWIR' OR wavelength > 7000) AS is_thermal,
        |    CASE WHEN src = 'DJI_RelativeOpticalCenter' AND has_roc THEN TRUE
        |         WHEN src = 'PrincipalPoint' AND has_pp AND has_pitch AND ref_has_pp THEN TRUE
        |         ELSE FALSE END AS detected,
        |    CASE WHEN src = 'DJI_RelativeOpticalCenter' AND has_roc THEN roc_x - dref_x
        |         WHEN src = 'PrincipalPoint' AND has_pp AND has_pitch AND ref_has_pp THEN
        |           CASE WHEN band_idx = ref_idx THEN 0e0 ELSE (pp_x - ref_pp_x) / pitch_x END
        |         ELSE 0e0 END AS shift_x,
        |    CASE WHEN src = 'DJI_RelativeOpticalCenter' AND has_roc THEN roc_y - dref_y
        |         WHEN src = 'PrincipalPoint' AND has_pp AND has_pitch AND ref_has_pp THEN
        |           CASE WHEN band_idx = ref_idx THEN 0e0 ELSE (pp_y - ref_pp_y) / pitch_y END
        |         ELSE 0e0 END AS shift_y,
        |    CASE WHEN src = 'DJI_RelativeOpticalCenter' AND has_roc THEN src
        |         WHEN src = 'PrincipalPoint' AND has_pp AND has_pitch AND ref_has_pp THEN src
        |         ELSE 'none' END AS shift_source
        |  FROM fin)
        |SELECT shift_source, is_thermal, detected, count(*) AS n_bands,
        |  round(avg(shift_x), 6) AS avg_shift_x,
        |  round(avg(shift_y), 6) AS avg_shift_y,
        |  round(max(greatest(abs(shift_x), abs(shift_y))), 6) AS max_shift
        |FROM outp GROUP BY 1, 2, 3""".stripMargin,
    // Border mask: identical synthetic 48×48 ortho (pure integer band
    // math), near predicate, and border-reachability closure through
    // the near set — the floodfill semantic, as a recursive CTE.
    "q_mask" ->
      """WITH RECURSIVE
        |g AS (SELECT CAST(i % 48 AS INT) AS x, CAST(i // 48 AS INT) AS y
        |      FROM (SELECT unnest(range(2304)) AS i)),
        |px AS (
        |  SELECT x, y,
        |    CASE WHEN x < 2 + (y * 7) % 4 OR x >= 46 OR y < 2 OR y >= 46
        |              OR (x BETWEEN 10 AND 16 AND y < 9) THEN 0
        |         WHEN x BETWEEN 22 AND 27 AND y BETWEEN 22 AND 27 THEN 8
        |         ELSE 40 + (x * 4) % 160 END AS r,
        |    CASE WHEN x < 2 + (y * 7) % 4 OR x >= 46 OR y < 2 OR y >= 46
        |              OR (x BETWEEN 10 AND 16 AND y < 9) THEN 4
        |         WHEN x BETWEEN 22 AND 27 AND y BETWEEN 22 AND 27 THEN 12
        |         ELSE 60 + (y * 3) % 120 END AS gg,
        |    CASE WHEN x < 2 + (y * 7) % 4 OR x >= 46 OR y < 2 OR y >= 46
        |              OR (x BETWEEN 10 AND 16 AND y < 9) THEN 2
        |         WHEN x BETWEEN 22 AND 27 AND y BETWEEN 22 AND 27 THEN 6
        |         ELSE 50 + ((x + y) * 5) % 180 END AS b
        |  FROM g),
        |near AS (SELECT x, y FROM px
        |         WHERE abs(r) <= 15 AND abs(gg) <= 15 AND abs(b) <= 15),
        |reach AS (
        |  SELECT x, y FROM near WHERE x = 0 OR x = 47 OR y = 0 OR y = 47
        |  UNION
        |  SELECT n.x, n.y FROM reach rr JOIN near n
        |    ON abs(n.x - rr.x) + abs(n.y - rr.y) = 1),
        |m AS (SELECT x, y, 0 AS mask FROM reach)
        |SELECT px.y,
        |  CAST(sum(CASE WHEN m.mask = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(sum(CASE WHEN m.mask = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN m.mask = 0 THEN px.x ELSE 0 END) AS BIGINT) AS masked_x_sum
        |FROM px LEFT JOIN m ON m.x = px.x AND m.y = px.y
        |GROUP BY px.y ORDER BY px.y""".stripMargin,
    "q_dedup_cluster" -> clusterOracle,
    "q_decontam" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)])) AS shingle
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents)
        |  WHERE len(t) >= 8),
        |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
        |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id % 10 = 7),
        |tr AS (SELECT doc_id, h FROM hs WHERE doc_id % 10 <> 7)
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_repetition" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents),
        |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_frac FROM bgc GROUP BY 1),
        |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3)),
        |tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
        |tstat AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c) AS dup_tri FROM tgc GROUP BY 1)
        |SELECT b.doc_id, b.top_bigram_frac,
        |  round(coalesce(t.dup_tri, 0), 4) AS dup_trigram_frac
        |FROM bstat b LEFT JOIN tstat t USING (doc_id) ORDER BY 1""".stripMargin,
    "q_pack" ->
      """WITH toks AS (SELECT doc_id, len(regexp_extract_all(lower(text), '\w+')) AS n FROM documents),
        |c AS (SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS fin FROM toks),
        |spans AS (SELECT doc_id, n, fin - n AS st, fin FROM c WHERE n > 0),
        |bins AS (
        |  SELECT doc_id, st, fin,
        |    unnest(range(CAST(st // 256 AS BIGINT), CAST((fin - 1) // 256 + 1 AS BIGINT))) AS bin
        |  FROM spans)
        |SELECT CAST(bin AS BIGINT) AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(sum(least(fin, (bin + 1) * 256) - greatest(st, bin * 256)) AS BIGINT) AS n_tokens
        |FROM bins GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dup_spans" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i FROM toks WHERE len(t) >= 10)),
        |df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h),
        |per AS (
        |  SELECT g.doc_id, count(*) AS n_pos,
        |    sum(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM g JOIN df USING (h) GROUP BY 1)
        |SELECT doc_id, CAST(n_pos AS BIGINT) AS n_positions,
        |  CAST(n_dup AS BIGINT) AS n_dup_positions,
        |  round(n_dup / n_pos, 4) AS dup_span_frac
        |FROM per WHERE n_dup > 0 ORDER BY doc_id""".stripMargin,
    "q_cut_spans" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, i AS p, ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i FROM toks WHERE len(t) >= 10)),
        |df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h),
        |cov AS (
        |  SELECT DISTINCT doc_id, ti FROM (
        |    SELECT g.doc_id, unnest(range(g.p, g.p + 10)) AS ti
        |    FROM g JOIN df USING (h) WHERE df.nd >= 2)),
        |tok AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ti FROM toks),
        |kept AS (
        |  SELECT tok.doc_id, count(*) AS n_kept,
        |    string_agg(tok.tok, ' ' ORDER BY tok.ti) AS clean_text
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.ti = cov.ti
        |  WHERE cov.ti IS NULL GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_cut,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM toks t LEFT JOIN kept k USING (doc_id)
        |WHERE len(t.t) - coalesce(k.n_kept, 0) > 0 ORDER BY doc_id""".stripMargin,
    // Maximal duplicated runs: same inverted index + covered set as
    // q_cut_spans, then gaps-and-islands (ti − row_number) per doc —
    // DuckDB re-derives every run boundary.
    "q_cut_runs" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, i AS p, ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i FROM toks WHERE len(t) >= 10)),
        |df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h),
        |cov AS (
        |  SELECT DISTINCT doc_id, ti FROM (
        |    SELECT g.doc_id, unnest(range(g.p, g.p + 10)) AS ti
        |    FROM g JOIN df USING (h) WHERE df.nd >= 2)),
        |isl AS (
        |  SELECT doc_id, ti, ti - row_number() OVER (PARTITION BY doc_id ORDER BY ti) AS grp
        |  FROM cov)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY min(ti)) AS BIGINT) AS run,
        |  CAST(min(ti) AS BIGINT) AS run_start, CAST(max(ti) AS BIGINT) AS run_end,
        |  CAST(count(*) AS BIGINT) AS run_len
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, run""".stripMargin,
    // Exact suffix-array substring dedup: the oracle rebuilds the
    // per-position duplicate extents from a 48-char WINDOWED suffix
    // sort (lead/lag LCP via the first-false list_position trick).
    // Capping extents at the window makes the per-position value
    // independent of within-tie-block ordering, so the windowed sort
    // here and the true prefix-doubling SA on the Spark side agree
    // exactly; unbounded exactness is SuffixDedupSpec's job.
    "q_suffix_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, lang, text, unnest(generate_series(1, length(text))) AS pos FROM documents),
        |s AS (
        |  SELECT doc_id, lang, pos, substr(text, CAST(pos AS INT), 48) AS win FROM p),
        |nb AS (
        |  SELECT lang, doc_id, pos, win,
        |    lead(win) OVER w AS nw,
        |    lag(win) OVER w AS pw
        |  FROM s WINDOW w AS (ORDER BY win, doc_id, pos)),
        |e AS (
        |  SELECT lang,
        |    greatest(
        |      CASE WHEN nw IS NULL THEN 0 ELSE coalesce(nullif(list_position(list_transform(generate_series(1, CAST(least(length(win), length(nw)) AS INT)), k -> substr(win, CAST(k AS INT), 1) = substr(nw, CAST(k AS INT), 1)), false), 0) - 1, least(length(win), length(nw))) END,
        |      CASE WHEN pw IS NULL THEN 0 ELSE coalesce(nullif(list_position(list_transform(generate_series(1, CAST(least(length(win), length(pw)) AS INT)), k -> substr(win, CAST(k AS INT), 1) = substr(pw, CAST(k AS INT), 1)), false), 0) - 1, least(length(win), length(pw))) END
        |    ) AS ext
        |  FROM nb)
        |SELECT lang,
        |  CAST(sum(CASE WHEN ext >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS dup_positions,
        |  CAST(sum(CASE WHEN ext >= 16 THEN ext ELSE 0 END) AS BIGINT) AS dup_chars,
        |  CAST(max(ext) AS BIGINT) AS max_extent
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,
    // Seekable-zstd container cycle: jsonl lines deterministic from the
    // ids round-trip through the REAL RFC 8878 codec + seekable framing
    // in-task (split-ownership sweep + ranged frame fetch + checksums
    // are requires), so line counts and char sums are the direct
    // closed forms below; shard sums add.
    "q_zst" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 97 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Brotli container cycle: jsonl -> encodeRaw -> decode byte-equal +
    // the Content-Encoding:br WARC face (both requires); counts/chars
    // are direct closed forms. Real-encoder conformance: BrotliSpec.
    "q_brotli" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 89 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // XZ multi-stream cycle: jsonl -> four REAL xz streams (raw LZMA2
    // chunks, CRC32/index/footer) -> whole decode + metadata stream
    // walk + split-ownership sweep (all requires); closed-form counts.
    // Real-encoder conformance: XzSpec's liblzma fixtures.
    "q_xz" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 83 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ZIP split-scan cycle: documents -> JDK ZipOutputStream archive
    // (streamed data-descriptor entries) -> OUR reader end to end:
    // EOCD tail walk, central-directory parse, per-entry ranged extent
    // decode with CRC (requires). Closed-form counts; line text is
    // {"id":N,"w":"wM"} with M = id%103 -> 15+digits(id)+digits(M).
    // Python-zipfile conformance (incl. zip64 extras): ZipSpec.
    "q_zip" ->
      """SELECT event_type,
        |  count(*) AS n_entries,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 103 AS VARCHAR))) AS BIGINT) AS entry_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // 7z solid-archive cycle: the bucket's documents as substreams of
    // ONE folder cycling copy/bzip2/LZMA2 coders -> OUR reader end to
    // end (signature, header parse, folder decode, substream split,
    // per-substream CRC; requires). Closed-form counts; line text is
    // {"id":N,"w":"wM"} with M = id%107 -> 15+digits(id)+digits(M).
    // Real-producer (bsdtar) conformance: SevenZipSpec.
    "q_7z" ->
      """SELECT event_type,
        |  count(*) AS n_entries,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 107 AS VARCHAR))) AS BIGINT) AS entry_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Arrow IPC cycle: each (event_type, shard) bucket's events become
    // a REAL multi-batch Arrow file written by Arrow Java (the
    // reference producer on the Spark classpath), read end to end by
    // the ArrowIpc facade (footer and block bounds, Arrow Java's
    // message parse and vector load, the Spark face; requires verify
    // id/tag/val/flag per row), plus require-only ZSTD id, map and
    // run-end-encoded lanes, also written by Arrow Java. Closed forms:
    // tag = "t"+(id%101), val = id%7. lz4/zstd bodies, dictionaries
    // and hostile bytes: ArrowIpcSpec.
    "q_arrow" ->
      """SELECT event_type,
        |  count(*) AS n_rows,
        |  CAST(sum(1 + length(CAST(event_id % 101 AS VARCHAR))) AS BIGINT) AS tag_chars,
        |  CAST(sum(event_id % 7) AS BIGINT) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Avro OCF cycle: each (event_type, shard) bucket is serialized by
    // avro-java (the LIVE reference implementation) as a deflate-codec
    // object container file and read back by OUR container walk +
    // binary decoder (requires verify id/tag/val/flag per row), plus a
    // require-only zstandard lane (our writer -> our reader). Closed
    // forms: tag = "a"+(id%89), val = id%11. Six-codec two-direction
    // conformance + ranged-split scan contract: AvroOcfSpec.
    "q_avro" ->
      """SELECT event_type,
        |  count(*) AS n_rows,
        |  CAST(sum(1 + length(CAST(event_id % 89 AS VARCHAR))) AS BIGINT) AS tag_chars,
        |  CAST(sum(event_id % 11) AS BIGINT) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Parquet footer introspection: the ParquetMeta facade reads the
    // events table's parquet footers through parquet-hadoop in tasks
    // (tails only, no page data) and aggregates row-group rows +
    // chunk-stat min/max of event_id; the oracle restates those
    // relationally over the same table DuckDB reads. A distributed
    // require gates num_values == rg rows per chunk. chunks() rows vs
    // parquet-hadoop across codecs: ParquetMetaSpec.
    "q_parquet_meta" ->
      """SELECT count(*) AS total_rows,
        |  min(event_id) AS min_event_id,
        |  max(event_id) AS max_event_id
        |FROM events""".stripMargin,
    // Hadoop SequenceFile cycle: each (event_type, shard) bucket is
    // serialized by hadoop-client's own SequenceFile.Writer (LIVE,
    // record-compressed DefaultCodec, LongWritable -> Text) and read
    // back by OUR header/record walk (requires verify id/tag per
    // record), plus a require-only gzip lane (our writer -> our
    // reader, small sync interval). Closed form: tag = "s"+(id%53).
    // Both-direction conformance + ranged-split ownership: SeqFileSpec.
    "q_seqfile" ->
      """SELECT event_type,
        |  count(*) AS n_rows,
        |  CAST(sum(1 + length(CAST(event_id % 53 AS VARCHAR))) AS BIGINT) AS tag_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ORC footer introspection, the ParquetMeta twin: the lane writes
    // events as zstd ORC, then the OrcMeta facade reads ONLY the
    // postscripts/footers back through orc-core in tasks; stripe rows
    // must sum to the file count and event_id's footer LONG statistics
    // aggregate to min/max — restated relationally by the oracle.
    // stripes() rows vs orc-core across codecs: OrcMetaSpec.
    "q_orc_meta" ->
      """SELECT count(*) AS total_rows,
        |  min(event_id) AS min_event_id,
        |  max(event_id) AS max_event_id
        |FROM events""".stripMargin,
    // Full ORC data cycle: five event columns written as snappy ORC by
    // df.write.orc (orc-core) once per JVM, read back by spark.read.orc
    // and aggregated per type; a ~1/7 slice is written and read back
    // again and must aggregate row-equal in-lane. DuckDB re-derives
    // everything from the source parquet.
    "q_orc_read" ->
      """SELECT event_type,
        |  count(*) AS n_rows,
        |  min(event_id) AS min_id,
        |  max(event_id) AS max_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  max(ts) AS max_ts,
        |  round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Parquet data cycle: spark.read.parquet (parquet-mr) reads the
    // SAME pyarrow-written events.parquet DuckDB scans; the aggregate
    // must hash-match DuckDB's own scan. A ~1/7 slice is written with
    // df.write.parquet and read back, and must aggregate row-equal
    // in-lane.
    "q_parquet_read" ->
      """SELECT event_type,
        |  count(*) AS n_rows,
        |  min(event_id) AS min_id,
        |  max(event_id) AS max_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  max(ts) AS max_ts,
        |  round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Zstd dictionary training: each (event_type, shard) bucket
    // expands its ids to templated JSON docs, trains a FastCover-style
    // raw-content dictionary on them, compresses every doc with it
    // through OUR encoder, and zstd-jni LIVE-decompresses each back
    // byte-exactly with the same dict (plus a dict-must-help require).
    // The oracle restates the doc template so total_chars is closed
    // form. Trainer conformance both directions: ZstdDictSpec.
    "q_zstd_dict" ->
      """SELECT event_type,
        |  count(*) AS n_docs,
        |  CAST(sum(length('{"id":' || CAST(event_id AS VARCHAR) ||
        |    ',"type":"evt","payload":"p' || CAST(event_id % 13 AS VARCHAR) ||
        |    '","flag":' || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END ||
        |    '}')) AS BIGINT) AS total_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // NumPy .npz cycle: each (event_type, shard) bucket's ids become a
    // real zip-of-.npy archive (JDK ZipOutputStream container, OUR
    // npy writer members: int64 ids + float32 (n,4) features), read
    // back by OUR ZIP walk + npy decode (requires verify each id and
    // feature). Closed forms: feature (i,j) = id%1000 + j, so the
    // bucket's feature sum = 4*sum(id%1000) + 6n. Byte-exact numpy
    // writer pins + dtype/order/version matrix: NpySpec.
    "q_npz" ->
      """SELECT event_type,
        |  count(*) AS n_vectors,
        |  CAST(4 * sum(event_id % 1000) + 6 * count(*) AS BIGINT) AS feat_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // safetensors cycle: each (event_type, shard) bucket's ids become
    // a spec-layout safetensors file (u64 header length + JSON index
    // + contiguous buffer: I64 ids, F16 (n,2) features, __metadata__),
    // read back by OUR header parse + typed decode (requires verify
    // ids/features + the reference coverage rule). Feature (i,j) =
    // id%512 + j (exact in F16), so feat_sum = 2*sum(id%512) + n.
    // Layout/validator conformance: SafetensorsSpec.
    "q_safetensors" ->
      """SELECT event_type,
        |  count(*) AS n_vectors,
        |  CAST(2 * sum(event_id % 512) + count(*) AS BIGINT) AS feat_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // TFRecord cycle: each (event_type, shard) bucket's ids become
    // framed tf.train.Examples (published framing: u64 len + masked
    // JDK-CRC32C of len + payload + masked CRC of payload; protobuf
    // wire per the published spec) in a plain AND a gzipped shard,
    // read back end to end (CRC-verified framing, wire parse with
    // unknown-field skip; requires verify id/tag/vals per row).
    // Closed forms: tag = "t"+(id%101), val_sum += 2*(id%7)+1.
    // LIVE protobuf-runtime cross-check both directions: TfRecordSpec.
    "q_tfrecord" ->
      """SELECT event_type,
        |  count(*) AS n_examples,
        |  CAST(sum(1 + length(CAST(event_id % 101 AS VARCHAR))) AS BIGINT) AS tag_chars,
        |  CAST(sum(2 * (event_id % 7) + 1) AS BIGINT) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // TopoJSON cycle: each (event_type, shard) bucket delta-encodes its
    // ids as ONE quantized topology (integer transform -> lossless),
    // OUR reader decodes it (arc cumsum + transform, ones'-complement
    // reversal identity, two-arc junction dedup, closed ring, id/
    // properties — requires); closed forms: the line's x positions are
    // 0..n-1 per bucket, y = id%1000. Spec-example conformance:
    // TopoJsonSpec.
    "q_topojson" ->
      """SELECT event_type,
        |  CAST(sum(n) AS BIGINT) AS n_points,
        |  CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS sum_x,
        |  CAST(sum(sy) AS BIGINT) AS sum_y
        |FROM (
        |  SELECT event_type, count(*) AS n, sum(event_id % 1000) AS sy
        |  FROM events GROUP BY event_type, event_id // 4096
        |) GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Snappy triple-format cycle: jsonl -> raw block + hadoop framing
    // + framing format, each decoding byte-equal (requires);
    // closed-form counts. Reference conformance (snappy-java, both
    // directions, all three formats): SnappySpec.
    "q_snappy" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 101 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // LZ4 multi-frame cycle: jsonl -> four REAL frames (greedy
    // encoder, block sizes 64K..4M, block checksums, planted skippable
    // frame) -> whole decode + header-only frame walk + split-ownership
    // sweep (all requires); closed-form counts. Real-CLI conformance:
    // Lz4Spec's lz4-CLI fixtures + pinned encoder bytes.
    "q_lz4" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 97 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // bzip2 cycle: jsonl -> encode -> whole decode byte-equal (a
    // require); closed-form counts. Conformance against real libbz2
    // fixtures: Bzip2Spec.
    "q_bz2" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 79 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // warc.zst cycle: WARC records -> zstd frames behind an in-band
    // dictionary -> dictionary recovery + frame split sweep + record
    // parse (all requires). Body bytes: html wrapper (34) + digits +
    // id%31 w's. Trained-dict conformance: WarcZstSpec.
    "q_warc_zst" ->
      """SELECT event_type,
        |  count(*) AS n_records,
        |  CAST(sum(25 + length(CAST(event_id AS VARCHAR)) + event_id % 31) AS BIGINT) AS body_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // One-front-door shard dispatch: the same jsonl cycles through all
    // five compressed shard flavors (zstd/xz/bz2/gz/brotli), each
    // decoded back via the EXACT extension+sniff dispatch the shard-set
    // face uses (requires); closed-form counts.
    "q_shards" ->
      """SELECT event_type,
        |  count(*) AS n_lines,
        |  CAST(sum(15 + length(CAST(event_id AS VARCHAR)) + length(CAST(event_id % 73 AS VARCHAR))) AS BIGINT) AS line_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // WebDataset tar-shard cycle: three files per sample (txt/cls/json,
    // one pax long-path per shard) round-trip through the REAL ustar
    // writer + split-ownership sweep + sample regrouping in-task (all
    // requires), so sample counts and .txt char sums are the direct
    // closed forms; shard sums add.
    "q_wds" ->
      """SELECT event_type,
        |  count(*) AS n_samples,
        |  CAST(sum(10 + length(CAST(event_id AS VARCHAR)) + event_id % 23) AS BIGINT) AS txt_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Roaring bitmap set algebra: per-event-type user-id bitmaps built
    // by the one-shuffle word bit_or, every pairwise intersection
    // cardinality computed by word AND after a round-trip through the
    // PORTABLE wire format (both cookie layouts) — the oracle
    // re-derives each count with a distinct self-join. Wire-format
    // conformance vs the live org.roaringbitmap: RoaringSpec.
    "q_roaring" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS ta, b.event_type AS tb,
        |  CAST(count(*) AS BIGINT) AS n_common
        |FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type <= b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Bloom membership: same md5 double-hash probe positions, same
    // 32-bit filter words via bit_or, same all-bits-set decision.
    "q_bloom" ->
      """WITH seen AS (
        |  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS key FROM documents WHERE doc_id < 400),
        |probe AS (
        |  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS key, doc_id < 400 AS truly_seen
        |  FROM documents WHERE doc_id < 500),
        |h AS (
        |  SELECT key,
        |    ('0x' || substr(md5(key), 1, 15))::BIGINT AS h1,
        |    ('0x' || substr(md5('salt2:' || key), 1, 15))::BIGINT AS h2
        |  FROM seen),
        |pos AS (
        |  SELECT DISTINCT CAST((h1 + i * h2) % 65536 AS BIGINT) AS p
        |  FROM h, (SELECT unnest(range(4)) AS i)),
        |filt AS (
        |  SELECT CAST(p // 32 AS BIGINT) AS bucket, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |ph AS (
        |  SELECT key, truly_seen,
        |    ('0x' || substr(md5(key), 1, 15))::BIGINT AS h1,
        |    ('0x' || substr(md5('salt2:' || key), 1, 15))::BIGINT AS h2
        |  FROM probe),
        |ppos AS (
        |  SELECT key, truly_seen, CAST((h1 + i * h2) % 65536 AS BIGINT) AS p
        |  FROM ph, (SELECT unnest(range(4)) AS i)),
        |hits AS (
        |  SELECT ppos.key, ppos.truly_seen,
        |    min(CASE WHEN filt.bits IS NOT NULL AND (filt.bits >> CAST(ppos.p % 32 AS INT)) & 1 = 1 THEN 1 ELSE 0 END) AS maybe
        |  FROM ppos LEFT JOIN filt ON filt.bucket = ppos.p // 32
        |  GROUP BY 1, 2)
        |SELECT key, truly_seen, CAST(maybe AS BIGINT) AS maybe FROM hits ORDER BY key""".stripMargin,
    // SymSpell fuzzy join: identical deletion-key blocking, identical
    // planted typos, DuckDB's own levenshtein as the verify.
    "q_fuzzy_join" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS w FROM documents),
        |words AS (SELECT DISTINCT w FROM toks WHERE w <> ''),
        |typos AS (
        |  SELECT DISTINCT substr(w, 1, 1) || substr(w, 3) AS w FROM words WHERE length(w) >= 4),
        |dict AS (SELECT w FROM words UNION SELECT w FROM typos),
        |keys AS (
        |  SELECT w, w AS k FROM dict
        |  UNION
        |  SELECT w, substr(w, 1, i) || substr(w, i + 2) AS k
        |  FROM dict,
        |    (SELECT unnest(range(0, (SELECT max(length(w)) FROM dict))) AS i)
        |  WHERE i < length(w)),
        |cand AS (
        |  SELECT DISTINCT a.w AS wa, b.w AS wb
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w)
        |SELECT wa, wb, CAST(levenshtein(wa, wb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(wa, wb) <= 1""".stripMargin,
    // Entity resolution: the q_fuzzy_join match graph closed into
    // clusters (recursive reachability over md5-60 word ids), one
    // canonical record per cluster (the variant carrying the min id).
    "q_entity_resolution" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS w FROM documents),
        |words AS (SELECT DISTINCT w FROM toks WHERE w <> ''),
        |typos AS (
        |  SELECT DISTINCT substr(w, 1, 1) || substr(w, 3) AS w FROM words WHERE length(w) >= 4),
        |dict AS (SELECT w FROM words UNION SELECT w FROM typos),
        |keys AS (
        |  SELECT w, w AS k FROM dict
        |  UNION
        |  SELECT w, substr(w, 1, i) || substr(w, i + 2) AS k
        |  FROM dict,
        |    (SELECT unnest(range(0, (SELECT max(length(w)) FROM dict))) AS i)
        |  WHERE i < length(w)),
        |cand AS (
        |  SELECT DISTINCT a.w AS wa, b.w AS wb
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w),
        |pairs AS (SELECT wa, wb FROM cand WHERE levenshtein(wa, wb) <= 1),
        |members AS (SELECT wa AS w FROM pairs UNION SELECT wb FROM pairs),
        |ids AS (SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS id FROM members),
        |edges AS (
        |  SELECT a.id AS src, b.id AS dst
        |  FROM pairs JOIN ids a ON pairs.wa = a.w JOIN ids b ON pairs.wb = b.w
        |  UNION
        |  SELECT b.id, a.id
        |  FROM pairs JOIN ids a ON pairs.wa = a.w JOIN ids b ON pairs.wb = b.w),
        |labels AS (
        |  WITH RECURSIVE reach AS (
        |    SELECT src AS id, src AS lab FROM edges
        |    UNION
        |    SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id)
        |  SELECT id, min(lab) AS lab FROM reach GROUP BY id),
        |ww AS (SELECT ids.w, ids.id, labels.lab FROM ids JOIN labels ON ids.id = labels.id),
        |canon AS (SELECT lab, w AS canonical FROM ww WHERE id = lab),
        |agg AS (
        |  SELECT lab, count(*) AS n_variants, min(w) AS first_variant, max(w) AS last_variant
        |  FROM ww GROUP BY lab)
        |SELECT canonical, n_variants, first_variant, last_variant
        |FROM agg JOIN canon USING (lab)""".stripMargin,
    // HyperLogLog: same md5-60 hash, register = low 9 bits, rho =
    // trailing-zero rank of the upper 51 (w & -w integer isolate),
    // harmonic sum as the exact scaled integer sum(2^(52-M_j)), both
    // correction branches + the register-wise-max merge row.
    "q_hll" ->
      """WITH vals AS (
        |  SELECT event_type, 'event_ids' AS metric, CAST(event_id AS VARCHAR) AS val FROM events
        |  UNION ALL
        |  SELECT event_type, 'users' AS metric, CAST(user_id AS VARCHAR) AS val FROM events),
        |h AS (
        |  SELECT event_type, metric, ('0x' || substr(md5(val), 1, 15))::BIGINT AS h FROM vals),
        |jr AS (
        |  SELECT event_type, metric, h % 512 AS j,
        |    CASE WHEN h // 512 = 0 THEN 52
        |         ELSE CAST(round(log2((h // 512) & -(h // 512))) AS INT) + 1 END AS rho
        |  FROM h),
        |regs AS (
        |  SELECT event_type, metric, j, max(rho) AS reg_max FROM jr GROUP BY 1, 2, 3),
        |allregs AS (
        |  SELECT '__all__' AS event_type, metric, j, max(reg_max) AS reg_max FROM regs GROUP BY 2, 3),
        |u AS (SELECT * FROM regs UNION ALL SELECT * FROM allregs),
        |est AS (
        |  SELECT event_type, metric, count(*) AS present,
        |    sum((1::BIGINT << (52 - reg_max))) AS s_present
        |  FROM u GROUP BY 1, 2),
        |fin AS (
        |  SELECT event_type, metric, present, 512 - present AS zeros,
        |    0.7213 / (1 + 1.079/512.0) * 512 * 512 * (1::BIGINT << 52)
        |      / (s_present + (512 - present) * (1::BIGINT << 52)) AS raw
        |  FROM est)
        |SELECT event_type, metric, CAST(present AS BIGINT) AS present,
        |  round(CASE WHEN raw <= 1280 AND zeros > 0 THEN 512 * ln(512.0 / zeros) ELSE raw END, 4) AS hll_est
        |FROM fin""".stripMargin,
    // Quantile sketch: DDSketch-style integer log-histogram — octave =
    // binary bit length (exact string-of-bits math in both engines),
    // top-5-bit mantissa refinement, bucket-wise count-sum merge for
    // the __all__ row, discrete ceil(q·n) pick over the cumulative
    // bucket counts. Integer end-to-end.
    "q_qsketch" ->
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type,
        |    CASE WHEN v = 0 THEN 0
        |         ELSE length(printf('%b', v)) * 32 + (v >> greatest(length(printf('%b', v)) - 5, 0)) END AS id,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |m AS (SELECT '__all__' AS event_type, id, CAST(sum(cnt) AS BIGINT) AS cnt FROM b GROUP BY id),
        |u AS (SELECT * FROM b UNION ALL SELECT * FROM m),
        |c AS (
        |  SELECT event_type, id, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CASE WHEN id = 0 THEN 0 ELSE (id % 32) << greatest(id // 32 - 5, 0) END AS low
        |  FROM u)
        |SELECT event_type, max(n) AS n,
        |  min(CASE WHEN cum >= greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN low END) AS q50,
        |  min(CASE WHEN cum >= greatest(1, CAST(ceil(0.9 * n) AS BIGINT)) THEN low END) AS q90,
        |  min(CASE WHEN cum >= greatest(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN low END) AS q99
        |FROM c GROUP BY event_type""".stripMargin,
    // Bilinear warp: GDAL half-pixel-center mapping, clamped edges,
    // four taps combined in the same fixed expression order as the
    // Spark side ((t0+t1)+(t2+t3)) so the blend is bit-identical.
    "q_resample" ->
      """WITH g AS (
        |  SELECT CAST(i % 64 AS INT) AS x, CAST(i // 64 AS INT) AS y,
        |    1e2 + (i % 64) * (i // 64) * 1e-2
        |    + 2.5e-1 * greatest(0, 400 - ((i % 64 - 20) * (i % 64 - 20) + (i // 64 - 25) * (i // 64 - 25)))
        |    + 1.25e-1 * greatest(0, 300 - ((i % 64 - 45) * (i % 64 - 45) + (i // 64 - 40) * (i // 64 - 40))) AS v
        |  FROM (SELECT unnest(range(4096)) AS i)),
        |d AS (SELECT CAST(k % 40 AS INT) AS i, CAST(k // 40 AS INT) AS j
        |      FROM (SELECT unnest(range(2080)) AS k)),
        |m AS (
        |  SELECT i, j,
        |    least(greatest((i + 0.5) * (64.0 / 40.0) - 0.5, 0.0), 63.0) AS sx,
        |    least(greatest((j + 0.5) * (64.0 / 52.0) - 0.5, 0.0), 63.0) AS sy
        |  FROM d),
        |t AS (
        |  SELECT i, j, CAST(floor(sx) AS INT) AS x0, CAST(floor(sy) AS INT) AS y0,
        |    least(CAST(floor(sx) AS INT) + 1, 63) AS x1, least(CAST(floor(sy) AS INT) + 1, 63) AS y1,
        |    sx - floor(sx) AS fx, sy - floor(sy) AS fy
        |  FROM m)
        |SELECT t.i, t.j,
        |  round(((1.0 - fx) * (1.0 - fy) * g00.v + fx * (1.0 - fy) * g10.v)
        |        + ((1.0 - fx) * fy * g01.v + fx * fy * g11.v), 6) AS v
        |FROM t
        |JOIN g g00 ON g00.x = t.x0 AND g00.y = t.y0
        |JOIN g g10 ON g10.x = t.x1 AND g10.y = t.y0
        |JOIN g g01 ON g01.x = t.x0 AND g01.y = t.y1
        |JOIN g g11 ON g11.x = t.x1 AND g11.y = t.y1""".stripMargin,
    // Cubic convolution (Catmull-Rom a=-0.5): 16 clamped taps, the
    // separable weights and the balanced blend tree written with the
    // IDENTICAL association as the Spark side so doubles match bitwise.
    "q_resample_cubic" ->
      """WITH g AS (
        |  SELECT CAST(i % 64 AS INT) AS x, CAST(i // 64 AS INT) AS y,
        |    1e2 + (i % 64) * (i // 64) * 1e-2
        |    + 2.5e-1 * greatest(0, 400 - ((i % 64 - 20) * (i % 64 - 20) + (i // 64 - 25) * (i // 64 - 25)))
        |    + 1.25e-1 * greatest(0, 300 - ((i % 64 - 45) * (i % 64 - 45) + (i // 64 - 40) * (i // 64 - 40))) AS v
        |  FROM (SELECT unnest(range(4096)) AS i)),
        |d AS (SELECT CAST(k % 40 AS INT) AS i, CAST(k // 40 AS INT) AS j
        |      FROM (SELECT unnest(range(2080)) AS k)),
        |m AS (
        |  SELECT i, j,
        |    (i + 0.5) * (64.0 / 40.0) - 0.5 AS sx,
        |    (j + 0.5) * (64.0 / 52.0) - 0.5 AS sy
        |  FROM d),
        |t AS (
        |  SELECT i, j, CAST(floor(sx) AS INT) AS xb, CAST(floor(sy) AS INT) AS yb,
        |    sx - floor(sx) AS fx, sy - floor(sy) AS fy
        |  FROM m),
        |w AS (
        |  SELECT i, j,
        |    least(greatest(xb - 1, 0), 63) AS x0, least(greatest(xb, 0), 63) AS x1,
        |    least(greatest(xb + 1, 0), 63) AS x2, least(greatest(xb + 2, 0), 63) AS x3,
        |    least(greatest(yb - 1, 0), 63) AS y0, least(greatest(yb, 0), 63) AS y1,
        |    least(greatest(yb + 1, 0), 63) AS y2, least(greatest(yb + 2, 0), 63) AS y3,
        |    ((-0.5 * (fx + 1.0) + 2.5) * (fx + 1.0) - 4.0) * (fx + 1.0) + 2.0 AS wx0,
        |    (1.5 * fx - 2.5) * fx * fx + 1.0 AS wx1,
        |    (1.5 * (1.0 - fx) - 2.5) * (1.0 - fx) * (1.0 - fx) + 1.0 AS wx2,
        |    ((-0.5 * (2.0 - fx) + 2.5) * (2.0 - fx) - 4.0) * (2.0 - fx) + 2.0 AS wx3,
        |    ((-0.5 * (fy + 1.0) + 2.5) * (fy + 1.0) - 4.0) * (fy + 1.0) + 2.0 AS wy0,
        |    (1.5 * fy - 2.5) * fy * fy + 1.0 AS wy1,
        |    (1.5 * (1.0 - fy) - 2.5) * (1.0 - fy) * (1.0 - fy) + 1.0 AS wy2,
        |    ((-0.5 * (2.0 - fy) + 2.5) * (2.0 - fy) - 4.0) * (2.0 - fy) + 2.0 AS wy3
        |  FROM t)
        |SELECT w.i, w.j,
        |  round(
        |    ((((wx0 * wy0) * g00.v + (wx1 * wy0) * g10.v) + ((wx2 * wy0) * g20.v + (wx3 * wy0) * g30.v))
        |     + (((wx0 * wy1) * g01.v + (wx1 * wy1) * g11.v) + ((wx2 * wy1) * g21.v + (wx3 * wy1) * g31.v)))
        |    + ((((wx0 * wy2) * g02.v + (wx1 * wy2) * g12.v) + ((wx2 * wy2) * g22.v + (wx3 * wy2) * g32.v))
        |     + (((wx0 * wy3) * g03.v + (wx1 * wy3) * g13.v) + ((wx2 * wy3) * g23.v + (wx3 * wy3) * g33.v))), 6) AS v
        |FROM w
        |JOIN g g00 ON g00.x = w.x0 AND g00.y = w.y0
        |JOIN g g10 ON g10.x = w.x1 AND g10.y = w.y0
        |JOIN g g20 ON g20.x = w.x2 AND g20.y = w.y0
        |JOIN g g30 ON g30.x = w.x3 AND g30.y = w.y0
        |JOIN g g01 ON g01.x = w.x0 AND g01.y = w.y1
        |JOIN g g11 ON g11.x = w.x1 AND g11.y = w.y1
        |JOIN g g21 ON g21.x = w.x2 AND g21.y = w.y1
        |JOIN g g31 ON g31.x = w.x3 AND g31.y = w.y1
        |JOIN g g02 ON g02.x = w.x0 AND g02.y = w.y2
        |JOIN g g12 ON g12.x = w.x1 AND g12.y = w.y2
        |JOIN g g22 ON g22.x = w.x2 AND g22.y = w.y2
        |JOIN g g32 ON g32.x = w.x3 AND g32.y = w.y2
        |JOIN g g03 ON g03.x = w.x0 AND g03.y = w.y3
        |JOIN g g13 ON g13.x = w.x1 AND g13.y = w.y3
        |JOIN g g23 ON g23.x = w.x2 AND g23.y = w.y3
        |JOIN g g33 ON g33.x = w.x3 AND g33.y = w.y3""".stripMargin,
    // Stratified split: exact floor targets per lang via the
    // quantile-cut (hash-prefix buckets + boundary-bucket rank) —
    // identical integer arithmetic and md5 ordering in both engines.
    "q_split_strat" ->
      """WITH d AS (
        |  SELECT lang, text, md5('strat:' || CAST(doc_id AS VARCHAR)) AS okey FROM documents),
        |b AS (SELECT lang, text, okey, substr(okey, 1, 2) AS bucket FROM d),
        |c AS (SELECT lang, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        |cm AS (SELECT lang, bucket, c,
        |        coalesce(sum(c) OVER (PARTITION BY lang ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM c),
        |t AS (SELECT lang, sum(c) AS n, (sum(c) * 80) // 100 AS t80, (sum(c) * 90) // 100 AS t90
        |      FROM c GROUP BY 1),
        |j AS (SELECT b.lang, b.text, b.okey, b.bucket, cm.cum AS bstart, cm.cum + cm.c AS bend, t.t80, t.t90
        |      FROM b JOIN cm ON b.lang = cm.lang AND b.bucket = cm.bucket
        |      JOIN t ON b.lang = t.lang),
        |clear AS (SELECT lang, text,
        |           CASE WHEN bend <= t80 THEN 'train' WHEN bstart >= t90 THEN 'test' ELSE 'val' END AS split
        |          FROM j WHERE bend <= t80 OR bstart >= t90 OR (bstart >= t80 AND bend <= t90)),
        |strad AS (SELECT lang, text, t80, t90,
        |           bstart + row_number() OVER (PARTITION BY lang, bucket ORDER BY okey) - 1 AS posn
        |          FROM j WHERE NOT (bend <= t80 OR bstart >= t90 OR (bstart >= t80 AND bend <= t90))),
        |u AS (SELECT lang, text, split FROM clear
        |      UNION ALL
        |      SELECT lang, text,
        |        CASE WHEN posn < t80 THEN 'train' WHEN posn < t90 THEN 'val' ELSE 'test' END AS split
        |      FROM strad)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM u GROUP BY 1, 2""".stripMargin,
    // Sliding token-window chunker: window 32, stride 24, last window
    // clamped; per-chunk md5 digests make every chunk hash-checked.
    "q_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, length(toks) AS n FROM d WHERE length(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |        unnest(range(greatest(CAST(ceil((n - 32) / 24.0) AS BIGINT), 0) + 1)) AS cid
        |      FROM n)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  CAST(length(toks[CAST(cid * 24 AS INT) + 1 : CAST(cid * 24 AS INT) + 32]) AS INT) AS n_tok,
        |  md5(array_to_string(toks[CAST(cid * 24 AS INT) + 1 : CAST(cid * 24 AS INT) + 32], ' ')) AS digest
        |FROM c""".stripMargin,
    // Gear content-defined chunking: the rolling hash evaluated mod 64
    // (the boundary mask) collapses to six lagged gear values; chunks
    // re-materialize by substring(start, len); the digest join counts
    // cross-document duplicate chunks.
    "q_cdc" ->
      """WITH ch AS (
        |  SELECT doc_id, text, unnest(range(length(text))) AS pos
        |  FROM documents WHERE length(text) > 0),
        |g AS (
        |  SELECT doc_id, text, pos,
        |    ('0x' || substr(md5('g:' || substr(text, pos + 1, 1)), 1, 15))::BIGINT % 64 AS gv
        |  FROM ch),
        |b AS (
        |  SELECT doc_id, text, pos,
        |    CASE WHEN (gv
        |      + 2 * coalesce(lag(gv, 1) OVER w, 0)
        |      + 4 * coalesce(lag(gv, 2) OVER w, 0)
        |      + 8 * coalesce(lag(gv, 3) OVER w, 0)
        |      + 16 * coalesce(lag(gv, 4) OVER w, 0)
        |      + 32 * coalesce(lag(gv, 5) OVER w, 0)) % 64 = 0 THEN 1 ELSE 0 END AS cut
        |  FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |cid AS (
        |  SELECT doc_id, text, pos,
        |    coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
        |  FROM b),
        |chunks AS (
        |  SELECT doc_id, chunk, min(pos) AS start, count(*) AS len, min(text) AS text
        |  FROM cid GROUP BY doc_id, chunk),
        |dg AS (
        |  SELECT doc_id, chunk, len,
        |    md5(substr(text, CAST(start AS INT) + 1, CAST(len AS INT))) AS digest
        |  FROM chunks),
        |freq AS (SELECT digest, count(DISTINCT doc_id) AS ndocs FROM dg GROUP BY digest)
        |SELECT dg.doc_id,
        |  CAST(count(*) AS INT) AS n_chunks,
        |  CAST(count(DISTINCT dg.digest) AS INT) AS n_distinct,
        |  CAST(sum(CASE WHEN freq.ndocs > 1 THEN 1 ELSE 0 END) AS INT) AS n_shared,
        |  CAST(sum(dg.len) AS BIGINT) AS len_sum
        |FROM dg JOIN freq ON dg.digest = freq.digest
        |GROUP BY dg.doc_id""".stripMargin,
    // LASzip round-trip proof: the Spark side aggregates points AFTER
    // a compress→decompress cycle; the oracle aggregates the same
    // deterministic integers directly — equal iff the codec is
    // lossless. All-integer output (BIGINT casts beat HUGEINT hash).
    "q_laz" ->
      """SELECT event_type,
        |  count(*) AS n_points,
        |  CAST(sum(event_id % 1000000) AS BIGINT) AS sum_x,
        |  CAST(sum((user_id * 7) % 1000000) AS BIGINT) AS sum_y,
        |  CAST(sum((event_id * 13) % 500000) AS BIGINT) AS sum_z,
        |  CAST(sum((event_id * 31) % 65536) AS BIGINT) AS sum_intensity,
        |  CAST(sum(event_id % 32) AS BIGINT) AS sum_class,
        |  CAST(sum((event_id % 91) - 45) AS BIGINT) AS sum_scan,
        |  CAST(sum((1 + (event_id % (1 + event_id % 3))) + (1 + event_id % 3) * 8) AS BIGINT) AS sum_ret,
        |  CAST(sum(epoch_us(ts) % 86400) AS BIGINT) AS sum_gps,
        |  CAST(sum(event_id % 65536) AS BIGINT) AS sum_red,
        |  CAST(sum(user_id % 65536) AS BIGINT) AS sum_green,
        |  CAST(sum((event_id * 3) % 65536) AS BIGINT) AS sum_blue
        |FROM events GROUP BY event_type""".stripMargin,
    // LAS 1.4 / LASzip v3 sibling of q_laz: format-8 points exercising
    // every POINT14 field (4 scanner channels, 15-value return domain,
    // i16 scan angles, NIR) compress→decompress inside the task; the
    // oracle aggregates the same deterministic integers directly.
    "q_laz14" ->
      """SELECT event_type,
        |  count(*) AS n_points,
        |  CAST(sum(event_id % 1000000) AS BIGINT) AS sum_x,
        |  CAST(sum((user_id * 7) % 1000000) AS BIGINT) AS sum_y,
        |  CAST(sum((event_id * 13) % 500000) AS BIGINT) AS sum_z,
        |  CAST(sum((event_id * 31) % 65536) AS BIGINT) AS sum_intensity,
        |  CAST(sum(1 + (event_id % (1 + event_id % 5))) AS BIGINT) AS sum_ret,
        |  CAST(sum(1 + event_id % 5) AS BIGINT) AS sum_nret,
        |  CAST(sum(event_id % 16) AS BIGINT) AS sum_cflags,
        |  CAST(sum((event_id // 7) % 4) AS BIGINT) AS sum_chan,
        |  CAST(sum(event_id % 256) AS BIGINT) AS sum_class,
        |  CAST(sum((event_id % 30001) - 15000) AS BIGINT) AS sum_scan,
        |  CAST(sum(epoch_us(ts) % 86400) AS BIGINT) AS sum_gps,
        |  CAST(sum(event_id % 65536) AS BIGINT) AS sum_red,
        |  CAST(sum((user_id * 11) % 65536) AS BIGINT) AS sum_nir
        |FROM events GROUP BY event_type""".stripMargin,
    "q_pctiler" -> pctilerOracle,
    "q_pagerank" -> pageRankOracle,
    "q_random_walk" -> randomWalkOracle,
    "q_dbscan" -> dbscanOracle,
    "q_label_prop" -> labelPropOracle,
    "q_kcore" -> kCoreOracle,
    "q_geofence" -> geofenceOracle,
    "q_kcenter" -> kCenterOracle,
    "q_pca" -> pcaOracle,
    "q_kmeans" -> kmeansOracle,
    "q_logreg" -> logregOracle,
    // Covariance from sums (same mergeable algebra as q_incr_agg);
    // embedding doubles have no finite decimal expansion, so rounded
    // quotients do not land exactly on 6dp boundaries.
    "q_covariance" ->
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT count(*) AS n FROM v),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |pairs AS (SELECT a.i AS i, b.i AS j FROM dims a, dims b WHERE b.i >= a.i),
        |prods AS (SELECT i, j, sum(e[i] * e[j]) AS sij FROM v, pairs GROUP BY i, j),
        |sums AS (SELECT i, sum(e[i]) AS si FROM v, dims GROUP BY i)
        |SELECT p.i, p.j, round((sij - sa.si * sb.si / n.n) / (n.n - 1), 6) + 0.0 AS cov
        |FROM prods p JOIN sums sa ON p.i = sa.i JOIN sums sb ON p.j = sb.i CROSS JOIN n""".stripMargin,
    // Triangles: same undirected event graph, same (deg, id) edge
    // orientation, wedge join closed against the canonical a<b edge
    // set — each triangle counted once at its lowest-rank corner.
    "q_triangles" ->
      """WITH e0 AS (
        |  SELECT DISTINCT event_id % 500 AS src, (event_id*7919) % 500 AS dst
        |  FROM events WHERE event_id % 500 <> (event_id*7919) % 500),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |ranked AS (
        |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
        |              THEN und.a ELSE und.b END AS u,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
        |              THEN und.b ELSE und.a END AS w
        |  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
        |wedges AS (
        |  SELECT x.u, x.w AS w1, y.w AS w2
        |  FROM ranked x JOIN ranked y ON x.u = y.u AND x.w < y.w),
        |tri AS (
        |  SELECT wedges.u, wedges.w1, wedges.w2
        |  FROM wedges JOIN und ON und.a = wedges.w1 AND und.b = wedges.w2),
        |pn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT w1 FROM tri
        |    UNION ALL SELECT w2 FROM tri) GROUP BY node)
        |SELECT r.range AS node, coalesce(pn.n_tri, 0) AS n_tri
        |FROM range(0, 500) r LEFT JOIN pn ON pn.node = r.range""".stripMargin,
    "q_bpe" -> bpeOracle,
    // Bloom-pruned aggregation: same double-hash bit math as q_bloom
    // (m=4096, k=3), filter from the user_id%37 dim keys, every event
    // row probed (multiplicity preserved via event_id), exact count
    // beside the pruned count so the FP overhead is visible.
    // Compaction bins are a pure function of the path-ordered listing:
    // the oracle states the rule with ONE global cumsum; the Spark side
    // computes the identical prefix sum two-phase (per-dir + offset).
    "q_compaction" ->
      """WITH files AS (
        |  SELECT source || '/' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS path,
        |         n_chars AS bytes
        |  FROM documents),
        |c AS (SELECT path, bytes, sum(bytes) OVER (ORDER BY path) AS cum FROM files),
        |b AS (SELECT path, bytes, CAST((cum - bytes) // 16384 AS BIGINT) AS bin FROM c)
        |SELECT bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(path) AS first_path, max(path) AS last_path
        |FROM b GROUP BY bin""".stripMargin,
    // BM25: same \w+ tokenization as q_tfidf, same ln() idf pattern,
    // rounded before ranking so tie order is engine-independent.
    "q_bm25" ->
      """WITH tr AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dlen FROM tr GROUP BY doc_id),
        |stats AS (SELECT CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl, count(*) AS nd FROM dl),
        |qt AS (SELECT unnest(['fast','spark','join']) AS term),
        |tf AS (
        |  SELECT tr.doc_id, tr.term, count(*) AS f
        |  FROM tr JOIN qt ON tr.term = qt.term GROUP BY tr.doc_id, tr.term),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tr JOIN qt USING (term) GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * f * 2.2 /
        |              (f + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))), 6) AS score
        |  FROM tf JOIN dfx USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score, rank FROM (
        |  SELECT doc_id, score,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 20""".stripMargin,
    // Salting is pure plumbing: both salted queries must equal the
    // direct GROUP BY / plain join — the oracle IS the unsalted form.
    "q_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_salted_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 ELSE l_orderkey % 25 END AS nk, l_quantity
        |  FROM lineitem)
        |SELECT n_name, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM f JOIN nation ON f.nk = nation.n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_bloom_join" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, 'u:' || CAST(user_id AS VARCHAR) AS key, user_id
        |  FROM events),
        |dim AS (SELECT DISTINCT key FROM ev WHERE CAST(substr(key, 3) AS BIGINT) % 37 = 0),
        |pos AS (
        |  SELECT key,
        |    (('0x' || substr(md5(key), 1, 15))::BIGINT
        |     + i * ('0x' || substr(md5('salt2:' || key), 1, 15))::BIGINT) % 4096 AS p
        |  FROM dim, (SELECT unnest(range(3)) AS i)),
        |filt AS (
        |  SELECT p // 32 AS bucket, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |probe AS (
        |  SELECT ev.event_id, ev.event_type, ev.key,
        |    (('0x' || substr(md5(ev.key), 1, 15))::BIGINT
        |     + i * ('0x' || substr(md5('salt2:' || ev.key), 1, 15))::BIGINT) % 4096 AS p
        |  FROM ev, (SELECT unnest(range(3)) AS i)),
        |bits AS (
        |  SELECT probe.event_id, probe.event_type, probe.key,
        |    CASE WHEN filt.bits IS NOT NULL
        |           AND ((filt.bits >> CAST(probe.p % 32 AS INT)) & 1) = 1
        |         THEN 1 ELSE 0 END AS hit
        |  FROM probe LEFT JOIN filt ON filt.bucket = probe.p // 32),
        |perrow AS (
        |  SELECT event_id, event_type, key, min(hit) AS maybe FROM bits GROUP BY 1, 2, 3)
        |SELECT event_type,
        |  CAST(sum(maybe) AS BIGINT) AS n_bloom_pass,
        |  CAST(sum(CASE WHEN CAST(substr(key, 3) AS BIGINT) % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        |FROM perrow GROUP BY 1""".stripMargin,
    // Interval-overlap self-join: deterministic integer second
    // intervals from the raw nano timestamps; DuckDB verifies the
    // blocked equi-join plan with its own direct range join (IEJoin) —
    // a genuinely different algorithm.
    "q_interval_join" ->
      """WITH iv AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts) // 1000000 AS s,
        |    epoch_us(ts) // 1000000 + event_id % 600 + 1 AS e
        |  FROM events),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         a.event_id AS ida, b.event_id AS idb
        |  FROM iv a JOIN iv b
        |    ON a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e)
        |SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(ida + idb) AS BIGINT) AS id_sum
        |FROM p GROUP BY 1, 2""".stripMargin,
    // Priority sampling: p = w·2e6/(2·u6+1) — one IEEE multiply + one
    // divide on exact integers, no transcendentals — top-33 per
    // source, tau = 33rd priority (0 on the exhaustive branch),
    // est_w = max(w, tau).
    "q_priority" ->
      """WITH docs AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |d2 AS (SELECT * FROM docs WHERE n_tok > 0),
        |base AS (
        |  SELECT source, doc_id, n_tok FROM d2
        |  UNION ALL SELECT 'tiny', doc_id, n_tok FROM d2 WHERE doc_id < 20),
        |pr AS (
        |  SELECT source, doc_id, n_tok,
        |    CAST(n_tok AS DOUBLE) * 2000000.0 /
        |      CAST((('0x' || substr(md5('ps:tok:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |            % 1000000) * 2 + 1 AS DOUBLE) AS p
        |  FROM base),
        |sk AS (
        |  SELECT source, p, doc_id AS id, n_tok AS w FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY p DESC, doc_id ASC) AS srk FROM pr)
        |  WHERE srk <= 33),
        |allsk AS (
        |  SELECT '__all__' AS source, p, id, w FROM (
        |    SELECT *, row_number() OVER (ORDER BY p DESC, id ASC) AS srk FROM sk WHERE source <> 'tiny')
        |  WHERE srk <= 33),
        |u AS (SELECT * FROM sk UNION ALL SELECT * FROM allsk),
        |ranked AS (
        |  SELECT source, p, id, w,
        |    row_number() OVER (PARTITION BY source ORDER BY p DESC, id ASC) AS rk FROM u),
        |tau AS (
        |  SELECT source, coalesce(max(CASE WHEN rk = 33 THEN p END), 0.0) AS tau
        |  FROM ranked GROUP BY source)
        |SELECT r.source, CAST(r.rk AS INT) AS rk, r.id AS doc_id, r.w AS n_tok,
        |  round(greatest(CAST(r.w AS DOUBLE), t.tau), 6) AS est_w
        |FROM ranked r JOIN tau t USING (source) WHERE r.rk <= 32""".stripMargin,
    // Theta/KMV: same salted md5-60 value hashes, bottom-64 distinct
    // per set, theta = 64th smallest (domain 2^60 when not full),
    // exact branch below k, union-merge re-bottom-k, intersections via
    // common-hash count below min(theta) — identical IEEE estimate
    // expression.
    "q_theta" ->
      """WITH hv AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('th:u:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events
        |  UNION ALL
        |  SELECT 'small',
        |    ('0x' || substr(md5('th:u:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |  FROM events WHERE user_id < 40),
        |dh AS (SELECT DISTINCT event_type, h FROM hv),
        |sk AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM dh)
        |  WHERE rk <= 64),
        |allsk AS (
        |  SELECT '__all__' AS event_type, h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rk
        |    FROM (SELECT DISTINCT h FROM sk WHERE event_type <> 'small'))
        |  WHERE rk <= 64),
        |u AS (SELECT * FROM sk UNION ALL SELECT * FROM allsk),
        |th AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_retained,
        |    CASE WHEN count(*) = 64 THEN max(h) ELSE 1152921504606846976 END AS theta
        |  FROM u GROUP BY 1),
        |ests AS (
        |  SELECT event_type AS set_a, '' AS set_b, n_retained AS n,
        |    CASE WHEN n_retained < 64 THEN CAST(n_retained AS DOUBLE)
        |         ELSE round(63.0 * 1152921504606846976.0 / theta, 4) END AS est
        |  FROM th),
        |inter AS (
        |  SELECT p.a AS set_a, p.b AS set_b,
        |    CAST(coalesce(sum(CASE WHEN x.h < t.th THEN 1 ELSE 0 END), 0) AS BIGINT) AS n,
        |    round(CAST(coalesce(sum(CASE WHEN x.h < t.th THEN 1 ELSE 0 END), 0) AS DOUBLE)
        |      * 1152921504606846976.0 / t.th, 4) AS est
        |  FROM (VALUES ('click', 'view'), ('click', 'purchase')) AS p(a, b)
        |  JOIN LATERAL (
        |    SELECT least(ta.theta, tb.theta) AS th
        |    FROM th ta, th tb WHERE ta.event_type = p.a AND tb.event_type = p.b) t ON true
        |  LEFT JOIN LATERAL (
        |    SELECT sa.h FROM sk sa JOIN sk sb ON sa.h = sb.h
        |    WHERE sa.event_type = p.a AND sb.event_type = p.b) x ON true
        |  GROUP BY 1, 2, t.th)
        |SELECT set_a, set_b, n, est FROM ests
        |UNION ALL SELECT set_a, set_b, n, est FROM inter""".stripMargin,
    // Count-Min: same md5-60 salted hashes mod 1024, per-(source,row)
    // counter table, point query = min over the 4 counters (absent
    // counter = 0), exact per-source truth beside it.
    "q_cmsketch" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '\w+')) AS tok
        |  FROM documents),
        |sk AS (
        |  SELECT source, i,
        |    ('0x' || substr(md5('cm' || i || ':' || tok), 1, 15))::BIGINT % 1024 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks, (SELECT unnest(range(4)) AS i)
        |  GROUP BY 1, 2, 3),
        |probes AS (SELECT DISTINCT tok FROM toks WHERE doc_id = 0),
        |pb AS (
        |  SELECT tok, i,
        |    ('0x' || substr(md5('cm' || i || ':' || tok), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM probes, (SELECT unnest(range(4)) AS i)),
        |grp AS (SELECT DISTINCT source FROM toks),
        |est AS (
        |  SELECT g.source, pb.tok, min(coalesce(sk.cnt, 0)) AS cm_est
        |  FROM grp g CROSS JOIN pb
        |  LEFT JOIN sk ON sk.source = g.source AND sk.i = pb.i AND sk.bucket = pb.bucket
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS true_cnt
        |  FROM toks JOIN probes USING (tok) GROUP BY 1, 2)
        |SELECT est.source, est.tok, est.cm_est, coalesce(truth.true_cnt, 0) AS true_cnt
        |FROM est LEFT JOIN truth ON truth.source = est.source AND truth.tok = est.tok""".stripMargin,
    // Bottom-k reservoir: same md5-60 row hash, bottom-64 by (h, id)
    // per (event_type, metric), the __all__ row re-bottom-k'd from the
    // per-type sketches, quantile = element at floor(q*(n-1)) of the
    // value-sorted sample — a selected element, no arithmetic.
    "q_reservoir" ->
      """WITH ev AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
        |vals AS (
        |  SELECT event_type, 'value_all' AS metric, event_id AS id, value AS v FROM ev
        |  UNION ALL
        |  SELECT event_type, 'value_97' AS metric, event_id AS id, value AS v FROM ev
        |  WHERE event_id % 97 = 0),
        |hv AS (SELECT *,
        |    ('0x' || substr(md5('rsv:' || metric || ':' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |samp AS (
        |  SELECT event_type, metric, h, id, v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type, metric ORDER BY h, id) AS srk FROM hv)
        |  WHERE srk <= 64),
        |mrg AS (
        |  SELECT '__all__' AS event_type, metric, h, id, v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY metric ORDER BY h, id) AS srk FROM samp)
        |  WHERE srk <= 64),
        |u AS (SELECT * FROM samp UNION ALL SELECT * FROM mrg),
        |ranked AS (
        |  SELECT event_type, metric, h, id, v,
        |    row_number() OVER (PARTITION BY event_type, metric ORDER BY v, h, id) AS rk,
        |    count(*) OVER (PARTITION BY event_type, metric) AS n
        |  FROM u)
        |SELECT event_type, metric, q, CAST(n AS BIGINT) AS n_sample, v AS est
        |FROM ranked, (SELECT unnest([0.25, 0.5, 0.75, 0.9]::DOUBLE[]) AS q) qs
        |WHERE rk = CAST(floor(q * (n - 1)) AS BIGINT) + 1""".stripMargin,
    "q_semdedup" ->
      s"""WITH $ivfAsgCtes,
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(va.e, vb.e) >= 0.35),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |labels AS (
        |  WITH RECURSIVE reach AS (
        |    SELECT src AS id, src AS lab FROM edges
        |    UNION
        |    SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id)
        |  SELECT id, min(lab) AS lab FROM reach GROUP BY id)
        |SELECT lab AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(id) AS BIGINT) AS member_id_sum
        |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cluster_sample" ->
      s"""WITH $ivfAsgCtes
        |SELECT cell_id, vec_id, rk FROM (
        |  SELECT cell_id, vec_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY cell_id ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS rk
        |  FROM asg)
        |WHERE rk <= 3 ORDER BY cell_id, rk""".stripMargin,
    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(lower(text), '\w+')) AS n_tok,
        |    ('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS u6
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN u6 * 128 < n_tok * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN u6 * 128 < n_tok * 1000000 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q_curate" -> curateOracle,
    // .ddb database round-trip proof: the Spark side aggregates entries
    // AFTER writing+reading a real SQLite database file (schema,
    // indexes, spatialite geometry blobs, migration-ladder pass) inside
    // each task; the oracle aggregates the same deterministic values
    // straight from orders — equal iff the file cycle is lossless.
    "q_ddb" ->
      """WITH b AS (
        |  SELECT o_custkey % 16 AS ds, o_orderkey // 4096 AS bkt,
        |    count(*) AS n,
        |    sum((o_orderkey * 37) % 1000000) AS sz,
        |    sum(o_custkey % 7) AS ty,
        |    min('orders/' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) AS pmin,
        |    max('orders/' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) AS pmax,
        |    count(DISTINCT o_orderkey % 1000) AS hd,
        |    sum(o_orderkey % 360 - 180) AS lon,
        |    sum(o_orderkey % 170 - 85) AS lat
        |  FROM orders GROUP BY 1, 2)
        |SELECT ds,
        |  CAST(sum(n) AS BIGINT) AS n_entries,
        |  CAST(sum(sz) AS BIGINT) AS size_sum,
        |  CAST(sum(ty) AS BIGINT) AS type_sum,
        |  min(pmin) AS path_min,
        |  max(pmax) AS path_max,
        |  CAST(sum(hd) AS BIGINT) AS hash_distinct,
        |  CAST(sum(lon) AS BIGINT) AS lon_sum,
        |  CAST(sum(lat) AS BIGINT) AS lat_sum
        |FROM b GROUP BY ds ORDER BY ds""".stripMargin,
    // Tie-point extraction proof: the Spark side recovers a known
    // md5-derived circular shift through the FULL signal chain (FFT
    // phase correlation seed -> per-patch NCC -> sub-pixel parabola)
    // on a grid built from the group's own events; the oracle states
    // the expected shift and the constant patch-grid size directly.
    // On an exact circular copy every parabolic correction is strictly
    // inside (-0.5, 0.5), so the rounded emissions are float-safe.
    "q_tiepoints" ->
      """SELECT event_type,
        |  CAST(('0x' || substr(md5('tp:' || event_type), 1, 2))::INT % 7 - 3 AS BIGINT) AS seed_dr,
        |  CAST(('0x' || substr(md5('tp:' || event_type), 3, 2))::INT % 5 - 2 AS BIGINT) AS seed_dc,
        |  CAST(('0x' || substr(md5('tp:' || event_type), 1, 2))::INT % 7 - 3 AS BIGINT) AS ncc_dr,
        |  CAST(('0x' || substr(md5('tp:' || event_type), 3, 2))::INT % 5 - 2 AS BIGINT) AS ncc_dc,
        |  CAST(16 AS BIGINT) AS n_good,
        |  CAST(1 AS BIGINT) AS sharp_peak
        |FROM (SELECT DISTINCT event_type FROM events) ORDER BY event_type""".stripMargin,
    // GCP warp (geoproject): the oracle replays the identical
    // arithmetic — 4-GCP least-squares affine (all normal-equation
    // sums/determinants integer-exact; only the Cramer divisions
    // round, identically in both engines), analytic inverse, nearest
    // floor sampling, inside mask — relationally over the same
    // data-derived source grid. Bit-exact by construction.
    "q_geoproject" ->
      """WITH et AS (SELECT DISTINCT event_type FROM events),
        |par AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5('gp:' || event_type), 1, 2))::INT % 200 - 100 AS DOUBLE) AS x0,
        |    CAST(('0x' || substr(md5('gp:' || event_type), 3, 2))::INT % 200 - 100 AS DOUBLE) AS y0,
        |    CAST(('0x' || substr(md5('gp:' || event_type), 5, 2))::INT % 5 - 2 AS DOUBLE) AS e1,
        |    CAST(('0x' || substr(md5('gp:' || event_type), 7, 2))::INT % 5 - 2 AS DOUBLE) AS e2,
        |    CAST(('0x' || substr(md5('gp:' || event_type), 9, 2))::INT % 5 - 2 AS DOUBLE) AS dpx,
        |    CAST(('0x' || substr(md5('gp:' || event_type), 11, 2))::INT % 5 - 2 AS DOUBLE) AS dpy
        |  FROM et),
        |gcp AS (
        |  SELECT event_type, x0, y0, e1, e2,
        |    x0 AS x1, y0 AS y1,
        |    x0 + e1 * 32 AS x2, y0 + 3.0 * 32 AS y2,
        |    x0 + 2.0 * 32 + e1 * 32 + dpx AS x3, y0 + e2 * 32 + 3.0 * 32 + dpy AS y3,
        |    x0 + 2.0 * 32 AS x4, y0 + e2 * 32 AS y4
        |  FROM par),
        |fit AS (
        |  SELECT event_type, x1, y1, x2, y2, x3, y3, x4, y4,
        |    -- pixel-coordinate sums for GCPs (0,0),(0,32),(32,32),(32,0)
        |    -- n=4 sx=64 sy=64 sxx=2048 syy=2048 sxy=1024, det3=4194304
        |    (x1 + x2 + x3 + x4) AS sX, (x3 * 32 + x4 * 32) AS sXx, (x2 * 32 + x3 * 32) AS sXy,
        |    (y1 + y2 + y3 + y4) AS sY, (y3 * 32 + y4 * 32) AS sYx, (y2 * 32 + y3 * 32) AS sYy
        |  FROM gcp),
        |aff AS (
        |  SELECT event_type, x1, y1, x2, y2, x3, y3, x4, y4,
        |    (sX * (2048*2048 - 1024*1024) - 64 * (sXx * 2048 - 1024 * sXy) + 64 * (sXx * 1024 - 2048 * sXy)) / 4194304.0 AS a,
        |    (4 * (sXx * 2048 - 1024 * sXy) - sX * (64*2048 - 1024*64) + 64 * (64 * sXy - sXx * 64)) / 4194304.0 AS b,
        |    (4 * (2048 * sXy - sXx * 1024) - 64 * (64 * sXy - sXx * 64) + sX * (64*1024 - 2048*64)) / 4194304.0 AS c,
        |    (sY * (2048*2048 - 1024*1024) - 64 * (sYx * 2048 - 1024 * sYy) + 64 * (sYx * 1024 - 2048 * sYy)) / 4194304.0 AS d,
        |    (4 * (sYx * 2048 - 1024 * sYy) - sY * (64*2048 - 1024*64) + 64 * (64 * sYy - sYx * 64)) / 4194304.0 AS e,
        |    (4 * (2048 * sYy - sYx * 1024) - 64 * (64 * sYy - sYx * 64) + sY * (64*1024 - 2048*64)) / 4194304.0 AS f
        |  FROM fit),
        |box AS (
        |  SELECT *,
        |    least(x1, x2, x3, x4) AS minx, greatest(x1, x2, x3, x4) AS maxx,
        |    least(y1, y2, y3, y4) AS miny, greatest(y1, y2, y3, y4) AS maxy
        |  FROM aff),
        |px AS (
        |  SELECT b.event_type, r.r, cc.c, b.a, b.b, b.c AS cf, b.d, b.e, b.f,
        |    b.minx + (cc.c + 0.5) * ((b.maxx - b.minx) / 40) AS gx,
        |    b.maxy - (r.r + 0.5) * ((b.maxy - b.miny) / 40) AS gy
        |  FROM box b, (SELECT unnest(range(40)) AS r) r, (SELECT unnest(range(40)) AS c) cc),
        |smp AS (
        |  SELECT event_type, r, c,
        |    CAST(floor((f * (gx - a) - cf * (gy - d)) / (b * f - cf * e)) AS INT) AS fx,
        |    CAST(floor((b * (gy - d) - e * (gx - a)) / (b * f - cf * e)) AS INT) AS fy
        |  FROM px),
        |density AS (
        |  SELECT event_type, (event_id * 2654435761) % 1024 AS cell,
        |    CAST(sum(event_id % 97 + 1) AS BIGINT) AS dv
        |  FROM events GROUP BY 1, 2),
        |gridval AS (
        |  SELECT eg.event_type, eg.i AS cell,
        |    coalesce(d.dv, 0) + (eg.i * 1103515245 + 12345) % 251 AS v
        |  FROM (SELECT et.event_type, g.i
        |        FROM et CROSS JOIN (SELECT unnest(range(1024)) AS i) g) eg
        |  LEFT JOIN density d ON d.event_type = eg.event_type AND d.cell = eg.i)
        |SELECT s.event_type,
        |  CAST(sum(CASE WHEN s.fx >= 0 AND s.fx < 32 AND s.fy >= 0 AND s.fy < 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
        |  CAST(sum(CASE WHEN s.fx >= 0 AND s.fx < 32 AND s.fy >= 0 AND s.fy < 32 THEN g.v ELSE 0 END) AS BIGINT) AS val_sum,
        |  CAST(sum(CASE WHEN s.fx >= 0 AND s.fx < 32 AND s.fy >= 0 AND s.fy < 32 THEN s.fy * 32 + s.fx ELSE 0 END) AS BIGINT) AS pos_sum,
        |  CAST(sum(CASE WHEN s.fx >= 0 AND s.fx < 32 AND s.fy >= 0 AND s.fy < 32 THEN 0 ELSE 1 END) AS BIGINT) AS n_outside
        |FROM smp s
        |LEFT JOIN gridval g ON g.event_type = s.event_type AND g.cell = s.fy * 32 + s.fx
        |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin,
    // PLY round-trip + splat dispatch proof: the Spark side writes a
    // binary 3DGS PLY from each group's events, parses it back through
    // the full header+data reader, and emits the dispatch (type 15 =
    // GaussianSplat, SH degree 1 from the 9 f_rest_* properties) plus
    // integer aggregates of the decoded float32 vertices (all values
    // integer-valued, so the f32 cycle is exact). The oracle aggregates
    // the same deterministic integers directly.
    "q_ply" ->
      """SELECT event_type,
        |  CAST(15 AS BIGINT) AS entry_type,
        |  CAST(1 AS BIGINT) AS sh_degree,
        |  count(*) AS n_vertices,
        |  CAST(sum(event_id % 1000) AS BIGINT) AS x_sum,
        |  CAST(sum((user_id * 3) % 1000) AS BIGINT) AS y_sum,
        |  CAST(sum((event_id * 7) % 500) AS BIGINT) AS z_sum,
        |  CAST(sum(event_id % 17) AS BIGINT) AS dc_sum,
        |  CAST(sum(event_id % 11) AS BIGINT) AS opacity_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Kneser-Ney bigram training (continuation counts + discount
    // redistribution as EXACT integer rationals) and DSIR hashed-ngram
    // importance weights (integer-quantized Laplace ratios) — both
    // all-integer emissions, oracles in text/Importance.
    "q_kn_lm" -> graft.text.Importance.KnLmOracle,
    "q_dsir" -> graft.text.Importance.DsirOracle,
    // Splat container proof: integer-position splats cycle through
    // 3DGS PLY, .splat, SPZ (12-bit fixed point — exact on integers)
    // AND a RAD preview chunk inside the task; the decoded position
    // sums from all four containers must agree with each other (a
    // require in the query) and with the oracle's direct aggregates.
    "q_splat" ->
      """SELECT event_type,
        |  count(*) AS n_splats,
        |  CAST(sum(event_id % 1000) AS BIGINT) AS x_sum,
        |  CAST(sum((event_id * 3) % 1000) AS BIGINT) AS y_sum,
        |  CAST(sum((event_id * 7) % 500) AS BIGINT) AS z_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ASTM E57 round-trip proof (the q_laz pattern): integer-lattice
    // ScaledInteger points write+read a real paged-CRC .e57 in-task;
    // the oracle aggregates the same deterministic integers directly.
    "q_e57" ->
      """SELECT event_type,
        |  count(*) AS n_points,
        |  CAST(sum(event_id % 1000000) AS BIGINT) AS x_sum,
        |  CAST(sum((event_id * 3) % 1000000) AS BIGINT) AS y_sum,
        |  CAST(sum((event_id * 7) % 500000) AS BIGINT) AS z_sum,
        |  CAST(sum((event_id * 31) % 65536) AS BIGINT) AS i_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // GLB + b3dm round-trip proof (same pattern): integer-lattice
    // vertices write a real binary glTF wrapped in a real b3dm tile
    // in-task and decode back; the oracle aggregates the raw rows.
    // idx_sum is the closed form over the consecutive triangle fan.
    "q_tiles3d" ->
      """SELECT event_type,
        |  count(*) AS n_vertices,
        |  CAST(count(*) // 3 AS BIGINT) AS n_triangles,
        |  CAST(sum(event_id % 1000) AS BIGINT) AS x_sum,
        |  CAST(sum((event_id * 3) % 1000) AS BIGINT) AS y_sum,
        |  CAST(sum((event_id * 7) % 500) AS BIGINT) AS z_sum,
        |  CAST((3 * (count(*) // 3)) * (3 * (count(*) // 3) - 1) // 2 AS BIGINT) AS idx_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Mesh LOD by vertex clustering: min-vid representative per grid
    // cell, triangle corner remap, degenerate drop — the oracle
    // states the identical relational rules over the lattice mesh.
    "q_lod" ->
      """WITH v AS (
        |  SELECT event_type, event_id AS vid,
        |    CAST(event_id % 100 AS DOUBLE) AS x,
        |    CAST((event_id * 3) % 100 AS DOUBLE) AS y,
        |    CAST((event_id * 7) % 50 AS DOUBLE) AS z
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vid) - 1 AS rn FROM v),
        |t AS (
        |  SELECT event_type, rn // 3 AS tri, count(*) AS nc,
        |    max(CASE WHEN rn % 3 = 0 THEN vid END) AS a,
        |    max(CASE WHEN rn % 3 = 1 THEN vid END) AS b,
        |    max(CASE WHEN rn % 3 = 2 THEN vid END) AS c
        |  FROM r GROUP BY 1, 2),
        |t3 AS (SELECT event_type, a, b, c FROM t WHERE nc = 3),
        |cellv AS (SELECT *, floor(x/4) AS cx, floor(y/4) AS cy, floor(z/4) AS cz FROM v),
        |reps AS (SELECT event_type, cx, cy, cz, min(vid) AS rep FROM cellv GROUP BY 1,2,3,4),
        |remap AS (SELECT c.event_type, c.vid, r.rep FROM cellv c JOIN reps r USING (event_type, cx, cy, cz)),
        |keptv AS (SELECT v.* FROM v JOIN remap m ON v.event_type = m.event_type AND v.vid = m.vid AND m.vid = m.rep),
        |keptt AS (
        |  SELECT t3.event_type, ma.rep AS ra, mb.rep AS rb, mc.rep AS rc
        |  FROM t3
        |  JOIN remap ma ON ma.event_type = t3.event_type AND ma.vid = t3.a
        |  JOIN remap mb ON mb.event_type = t3.event_type AND mb.vid = t3.b
        |  JOIN remap mc ON mc.event_type = t3.event_type AND mc.vid = t3.c
        |  WHERE ma.rep <> mb.rep AND mb.rep <> mc.rep AND ma.rep <> mc.rep),
        |va AS (
        |  SELECT event_type, count(*) AS n_cells,
        |    CAST(sum(x) AS BIGINT) AS x_sum, CAST(sum(y) AS BIGINT) AS y_sum,
        |    CAST(sum(z) AS BIGINT) AS z_sum
        |  FROM keptv GROUP BY 1),
        |ta AS (
        |  SELECT event_type, count(*) AS n_tris,
        |    CAST(sum(ra + rb + rc) AS BIGINT) AS corner_sum
        |  FROM keptt GROUP BY 1)
        |SELECT va.event_type, n_cells, x_sum, y_sum, z_sum,
        |  coalesce(n_tris, 0) AS n_tris, coalesce(corner_sum, 0) AS corner_sum
        |FROM va LEFT JOIN ta ON va.event_type = ta.event_type
        |ORDER BY va.event_type""".stripMargin,
    // Nexus .nxs container proof: the q_lod lattice mesh and its
    // cell-4 decimation cycle through the real multiresolution
    // container in-task (write -> read, byte-exact levels required),
    // so the oracle states the two level widths relationally.
    "q_nexus" ->
      """WITH v AS (
        |  SELECT event_type, event_id AS vid,
        |    CAST(event_id % 100 AS DOUBLE) AS x,
        |    CAST((event_id * 3) % 100 AS DOUBLE) AS y,
        |    CAST((event_id * 7) % 50 AS DOUBLE) AS z
        |  FROM events),
        |reps AS (
        |  SELECT event_type, floor(x/4) AS cx, floor(y/4) AS cy, floor(z/4) AS cz
        |  FROM v GROUP BY 1, 2, 3, 4)
        |SELECT v.event_type,
        |  count(*) AS n_fine,
        |  (SELECT count(*) FROM reps r WHERE r.event_type = v.event_type) AS n_coarse
        |FROM v GROUP BY v.event_type ORDER BY v.event_type""".stripMargin,
    // FLAC round-trip proof (the q_splat/q_e57 pattern): per-group
    // deterministic 16-bit PCM cycles through the FLAC codec in-task
    // (lossless + MD5-verified, so the decoded sum equals the direct
    // aggregate below); G.711 µ-law/A-law and IMA-ADPCM containers
    // cycle too with bounded-error requires inside the query.
    "q_flac" ->
      """SELECT event_type,
        |  count(*) AS n_samples,
        |  CAST(sum(((event_id * 37) % 1024) * 16 - 8192) AS BIGINT) AS pcm_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Ogg Vorbis round-trip proof: deterministic PCM cycles through
    // the full lossy pipeline in-task (flat floor1, two-pass cascade
    // residue, MDCT + TDAC windows, real Ogg pages); a required
    // per-sample error bound makes the SOURCE sums the oracle.
    "q_vorbis" ->
      """SELECT event_type,
        |  count(*) AS n_samples,
        |  CAST(sum(((event_id * 37) % 256 - 128) * 8) AS BIGINT) AS pcm_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // JPEG 2000 round-trip proof: per-group 8-bit planes cycle through
    // the JP2 container (gray) and the raw J2K codestream (RGB via
    // RCT) in-task, losslessly; zero padding to the 64-wide raster
    // keeps the decoded sums equal to these direct aggregates.
    "q_jp2" ->
      """SELECT event_type,
        |  count(*) AS n_px,
        |  CAST(sum((event_id * 37) % 256) AS BIGINT) AS gray_sum,
        |  CAST(sum((event_id * 11) % 256 + (event_id * 29) % 256 + (event_id * 53) % 256) AS BIGINT) AS rgb_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Lossy JPEG 2000 proof: the 9/7 + expounded-quantization path runs
    // in-task with a required per-pixel error bound (step 0.25), so the
    // SOURCE sums are the oracle — a broken irreversible transform or
    // dequantizer trips the require before any row reaches the compare.
    "q_jp2_lossy" ->
      """SELECT event_type,
        |  count(*) AS n_px,
        |  CAST(sum((event_id * 37) % 256) AS BIGINT) AS gray_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // H.264 I_PCM + MP4 round-trip proof: 4:2:0 frames built from each
    // (event_type, id%16 shard)'s ids cycle Annex-B -> MP4 sample
    // tables -> decode in-task (I_PCM is lossless raw). Luma takes
    // every id once (order-free); chroma takes ranks 0..127 of each
    // 512-run WITHIN the shard, which the shard-partitioned row_number
    // reproduces here; frames and sums add across shards.
    "q_h264" ->
      """WITH r AS (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type, ((event_id % 16) + 16) % 16 ORDER BY event_id) - 1 AS rn
        |  FROM events),
        |sh AS (
        |  SELECT event_type, ((event_id % 16) + 16) % 16 AS shard,
        |    greatest(1, CAST(ceil(count(*) / 512.0) AS BIGINT)) AS frames,
        |    sum((event_id * 37) % 256) AS y,
        |    coalesce(sum(CASE WHEN rn % 512 < 128
        |      THEN (event_id * 11) % 256 + (event_id * 29) % 256 END), 0) AS c
        |  -- pmod semantics: match the Spark side for negative ids too
        |  FROM r GROUP BY event_type, ((event_id % 16) + 16) % 16)
        |SELECT event_type,
        |  CAST(sum(frames) AS BIGINT) AS n_frames,
        |  CAST(sum(y) AS BIGINT) AS y_sum,
        |  CAST(sum(c) AS BIGINT) AS c_sum
        |FROM sh GROUP BY event_type ORDER BY event_type""".stripMargin,
    // GIF round-trip proof: gray planes cycle through the real-LZW
    // GIF codec in-task (identity-ramp palette = lossless); zero
    // padding keeps the sums equal to the direct aggregates.
    "q_gif" ->
      """SELECT event_type,
        |  count(*) AS n_px,
        |  CAST(sum((event_id * 37) % 256) AS BIGINT) AS gray_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // WebP (VP8L) round-trip proof: RGB planes cycle through the full
    // lossless transform stack (subtract-green + predictor + cross-color
    // + color cache + LZ77) in-task; losslessness is a require, so the
    // channel sums equal the direct aggregates (zero padding adds 0).
    // (r15) the same cycle also pushes the R channel through the real
    // lossy VP8 keyframe codec with a required per-pixel error bound;
    // y_sum is the SOURCE plane's closed form (the jp2_lossy pattern).
    "q_webp" ->
      """SELECT event_type,
        |  count(*) AS n_px,
        |  CAST(sum((event_id * 37) % 256 + (event_id * 57) % 256 + (event_id * 77) % 256) AS BIGINT) AS rgb_sum,
        |  CAST(sum((event_id * 37) % 256) AS BIGINT) AS y_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // URL canonicalization proof: three crawl variants per id
    // (www+utm tracking, uppercase scheme + default port, fragment)
    // all collapse through the REAL kernel to one canonical form per
    // (site, page) pair — which this oracle counts directly.
    "q_url_canon" ->
      """SELECT event_type,
        |  count(*) AS n_urls,
        |  CAST(count(DISTINCT (event_id % 50) * 1000 + (event_id % 100)) AS BIGINT) AS n_canon
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // HTML boilerplate-removal proof: the article paragraph survives
    // extraction byte-exactly (required in-task), so its length is
    // the direct SQL expression below; nav/footer/style chrome must
    // contribute nothing.
    "q_html" ->
      """SELECT event_type,
        |  count(*) AS n_docs,
        |  CAST(sum(length(rtrim(repeat('w' || CAST(event_id % 97 AS VARCHAR) || ' ', 30)))) AS BIGINT) AS kept_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // WARC split-read cycle (the q_e57 pattern): one gzip member per
    // event becomes a crawl container read back through the range-split
    // member scan at three arbitrary cuts; each page's boilerplate is
    // removed and the article paragraph must survive byte-exactly, so
    // kept_chars is the q_html closed form and uri_chars counts the
    // synthetic URL ('https://crawl.invalid/doc/' = 26 chars + the id).
    "q_warc" ->
      """SELECT event_type,
        |  count(*) AS n_records,
        |  CAST(sum(30 * length(CAST(event_id % 97 AS VARCHAR)) + 59) AS BIGINT) AS kept_chars,
        |  CAST(sum(26 + length(CAST(event_id AS VARCHAR))) AS BIGINT) AS uri_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // WET sidecar cycle: conversion records (text/plain extracted text,
    // deterministic per id) split-scanned at three arbitrary cuts; each
    // text must survive byte-exactly (required in-task), so text_chars
    // is the closed form of (("w"+id%89+" ")*20).trim's length.
    "q_wet" ->
      """SELECT event_type,
        |  count(*) AS n_records,
        |  CAST(sum(20 * length('w' || CAST(event_id % 89 AS VARCHAR)) + 19) AS BIGINT) AS text_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // WAT sidecar cycle: metadata records carrying the Common Crawl
    // JSON envelope (title + id%5+1 links) split-scanned and parsed
    // through the REAL envelope walker; every field must round-trip
    // (required in-task), so link and title counts are closed forms.
    "q_wat" ->
      """SELECT event_type,
        |  count(*) AS n_pages,
        |  CAST(sum(event_id % 5 + 1) AS BIGINT) AS n_links,
        |  CAST(sum(length('T' || CAST(event_id AS VARCHAR))) AS BIGINT) AS title_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // CDX capture-index cycle: a gz container is indexed through the
    // split member scan, lines round-trip the real CDXJ codec (SURT
    // pinned in-task), and the id%3==0 subset is fetched back by
    // (offset,length) extents only — byte-exactness + digest match are
    // required in-task, so counts and kept chars are closed forms.
    // Fetched text is (("c"+id%83+" ")*25).trim → 25*(2+digits)-1 chars.
    "q_cdx" ->
      """SELECT event_type,
        |  count(*) AS n_indexed,
        |  CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fetched,
        |  CAST(sum(CASE WHEN event_id % 3 = 0
        |    THEN 25 * (2 + length(CAST(event_id % 83 AS VARCHAR))) - 1 ELSE 0 END) AS BIGINT) AS fetched_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // robots.txt gate (RFC 9309): path shape id%7 exercises a distinct
    // rule each; the engine requires the real parse->group->match chain
    // to equal the closed-form verdict in-task, so allowed counts are
    // the shapes 0/2/4/6 (no-rule, longer-allow, anchor-miss, tie-win).
    "q_robots" ->
      """SELECT event_type,
        |  count(*) AS n_pages,
        |  CAST(sum(CASE WHEN event_id % 7 IN (0, 2, 4, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Gopher quality rules (Rae et al. 2021): same \w+ token
    // convention as q_token_stats; ratios and thresholds mirrored
    // term-for-term. Line tests use ltrim/rtrim + prefix/suffix, not
    // \s/$ classes, so Java-vs-RE2 edge semantics cannot drift.
    "q_gopher" ->
      """WITH m AS (
        |  SELECT source,
        |    regexp_extract_all(text, '\w+') AS words,
        |    length(words) AS n_words,
        |    string_split(text, chr(10)) AS lines,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) / 3 AS ellipses,
        |    (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS stop_hits
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    n_words BETWEEN 50 AND 100000 AS f_words,
        |    CASE WHEN n_words > 0
        |      THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / n_words
        |      ELSE 0.0 END BETWEEN 3.0 AND 10.0 AS f_mean_len,
        |    CASE WHEN n_words > 0 THEN CAST(hashes AS DOUBLE) / n_words ELSE 1.0 END <= 0.1 AS f_hash,
        |    CASE WHEN n_words > 0 THEN CAST(ellipses AS DOUBLE) / n_words ELSE 1.0 END <= 0.1 AS f_ellipsis,
        |    CASE WHEN length(lines) > 0
        |      THEN CAST(length(list_filter(lines, l ->
        |        starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•'))) AS DOUBLE) / length(lines)
        |      ELSE 0.0 END <= 0.9 AS f_bullet,
        |    CASE WHEN length(lines) > 0
        |      THEN CAST(length(list_filter(lines, l ->
        |        ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE) / length(lines)
        |      ELSE 0.0 END <= 0.3 AS f_ell_lines,
        |    CASE WHEN n_words > 0
        |      THEN CAST(length(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / n_words
        |      ELSE 0.0 END >= 0.8 AS f_alpha,
        |    stop_hits >= 2 AS f_stops
        |  FROM m)
        |SELECT source,
        |  count(*) AS docs,
        |  CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS ok_words,
        |  CAST(sum(CASE WHEN f_mean_len THEN 1 ELSE 0 END) AS BIGINT) AS ok_mean_len,
        |  CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS ok_alpha,
        |  CAST(sum(CASE WHEN f_stops THEN 1 ELSE 0 END) AS BIGINT) AS ok_stops,
        |  CAST(sum(CASE WHEN f_words AND f_mean_len AND f_hash AND f_ellipsis
        |    AND f_bullet AND f_ell_lines AND f_alpha AND f_stops THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        |FROM f GROUP BY source ORDER BY source""".stripMargin
    // Every declared query has an oracle: hash-based ops (minhash,
    // simhash, fingerprint, LSH) use the engine-neutral md5-derived
    // hash so DuckDB recomputes the identical sketch.
  )
}
