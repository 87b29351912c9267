package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graft._

/**
 * Function registry installer + typed Column API (SURVEY.md §2 summary:
 * scalar ST_* via `spark.sessionState.functionRegistry`; call sites use
 * `call_function` so the same names work from SQL and the DataFrame API).
 */
object GraftFunctions {

  private def fns: Map[String, Seq[Expression] => Expression] = Map(
    // codecs / constructors (§2.1)
    "st_geomfromwkt" -> (e => StGeomFromWkt(e.head)),
    "st_geomfromwkb" -> (e => StGeomFromWkb(e.head)),
    "st_aswkb" -> (e => StAsWkb(e.head)),
    "st_geomfromgeojson" -> (e => StGeomFromGeoJson(e.head)),
    "st_aswkt" -> (e => StAsWkt(e.head)),
    "st_geomfromshape" -> (e => StGeomFromEsriShape(e.head)),
    "st_asshape" -> (e => StAsEsriShape(e.head)),
    "st_geomfromesrijson" -> (e => StGeomFromEsriJson(e.head)),
    "st_asesrijson" -> (e => StAsEsriJson(e.head)),
    "st_asgeojson" -> (e => StAsGeoJson(e.head)),
    "st_point" -> (e => StPoint(e(0), e(1))),
    "st_makepointz" -> (e => StMakePointZ(e)),
    "st_z" -> (e => StZ(e.head)),
    "st_m" -> (e => StM(e.head)),
    "st_hasz" -> (e => StHasZ(e.head)),
    "st_hasm" -> (e => StHasM(e.head)),
    "st_force2d" -> (e => StForce2D(e.head)),
    "st_makeenvelope" -> (e => StMakeEnvelope(e)),
    "st_makeline" -> (e => StMakeLine(e)),
    "st_makelinez" -> (e => StMakeLineZ(e)),
    // accessors
    "st_x" -> (e => StX(e.head)),
    "st_y" -> (e => StY(e.head)),
    "st_geometrytype" -> (e => StGeometryType(e.head)),
    "st_numpoints" -> (e => StNumPoints(e.head)),
    "st_isempty" -> (e => StIsEmpty(e.head)),
    "st_envelope" -> (e => StEnvelope(e.head)),
    "st_xmin" -> (e => StXMin(e.head)),
    "st_ymin" -> (e => StYMin(e.head)),
    "st_xmax" -> (e => StXMax(e.head)),
    "st_ymax" -> (e => StYMax(e.head)),
    // predicates (§2.4)
    "st_intersects" -> (e => StIntersects(e(0), e(1))),
    "st_disjoint" -> (e => StDisjoint(e(0), e(1))),
    "st_contains" -> (e => StContains(e(0), e(1))),
    "st_within" -> (e => StWithin(e(0), e(1))),
    "st_covers" -> (e => StCovers(e(0), e(1))),
    "st_touches" -> (e => StTouches(e(0), e(1))),
    "st_crosses" -> (e => StCrosses(e(0), e(1))),
    "st_overlaps" -> (e => StOverlaps(e(0), e(1))),
    "st_equals" -> (e => StEquals(e(0), e(1))),
    "st_relate" -> (e => StRelate(e(0), e(1))),
    "st_relate_match" -> (e => StRelateMatch(e(0), e(1), e(2))),
    "st_contains_xy" -> (e => StContainsXY(e(0), e(1), e(2))),
    "st_intersects_xy" -> (e => StIntersectsXY(e(0), e(1), e(2))),
    "st_dwithin" -> (e => StDwithin(e(0), e(1), e(2))),
    "st_dwithin_xy" -> (e => StDwithinXY(e(0), e(1), e(2), e(3))),
    "st_expand" -> (e => StExpand(e(0), e(1))),
    "st_distance_sphere" -> (e => StDistanceSphere(e(0), e(1), e(2), e(3))),
    // measures
    "st_distance" -> (e => StDistance(e(0), e(1))),
    "st_area" -> (e => StArea(e.head)),
    "st_length" -> (e => StLength(e.head)),
    "st_area_sphere" -> (e => StAreaSphere(e.head)),
    "st_length_sphere" -> (e => StLengthSphere(e.head)),
    "st_length_geodesic" -> (e => StLengthGeodesic(e.head)),
    "st_area_geodesic" -> (e => StAreaGeodesic(e.head)),
    // constructive (§2.2)
    "st_buffer" -> (e => if (e.length >= 3) StBufferDev(e(0), e(1), e(2)) else StBuffer(e(0), e(1))),
    "st_convexhull" -> (e => StConvexHull(e.head)),
    "st_simplify" -> (e => StSimplify(e.head)),
    "st_simplify_ogc" -> (e => StSimplifyOgc(e.head)),
    // PostGIS-familiar alias: even-odd self-intersection repair IS the
    // make-valid operation this engine implements
    "st_makevalid" -> (e => StSimplifyOgc(e.head)),
    "st_concavehull" -> (e => StConcaveHull(e(0), e(1))),
    "st_isvalid" -> (e => StIsValid(e.head)),
    "st_minimumboundingcircle" -> (e => StMinBoundingCircle(e.head)),
    "st_shortestline" -> (e => StShortestLine(e(0), e(1))),
    "st_geometricmedian" -> (e => StGeometricMedian(e.head)),
    "st_maxdistance" -> (e => StMaxDistance(e(0), e(1))),
    "st_angle" -> (e => StAngle(e)),
    "st_rotate" -> (e => StRotate(e)),
    "st_minimumboundingradius" -> (e => StMinBoundingRadius(e.head)),
    "st_orientedenvelope" -> (e => StOrientedEnvelope(e.head)),
    "st_isvalid_reason" -> (e => StIsValidReason(e.head)),
    "st_generalize" -> (e => StGeneralize(e(0), e(1))),
    "st_densify" -> (e => StDensify(e(0), e(1))),
    "st_clip" -> (e => StClip(e)),
    "st_transform" -> (e => StTransform(e(0), e(1), e(2))),
    "st_affine" -> (e => StAffine(e)),
    "st_centroid" -> (e => StCentroid(e.head)),
    "st_closest_point" -> (e => StClosestPoint(e(0), e(1), e(2))),
    "st_random_points" -> (e => StRandomPoints(e(0), e(1), e(2))),
    "st_cut" -> (e => StCut(e(0), e(1))),
    "st_collect" -> (e => StCollect(e.head)),
    "st_dump" -> (e => StDump(e.head)),
    "st_dumppoints" -> (e => StDumpPoints(e.head)),
    "st_num_geometries" -> (e => StNumGeometries(e.head)),
    // binary overlay (§2.3, staged — see graft.geom.Overlay)
    "st_intersection" -> (e => StIntersection(e(0), e(1))),
    "st_intersection_dim" -> (e => StIntersectionDim(e(0), e(1), e(2))),
    "st_difference" -> (e => StDifference(e(0), e(1))),
    "st_union" -> (e => StUnion(e(0), e(1))),
    "st_symdifference" -> (e => StSymDifference(e(0), e(1))),
    "st_offset" -> (e => StOffset(e(0), e(1))),
    "st_generalize_area" -> (e => StGeneralizeArea(e(0), e(1))),
    "st_geodesic_buffer" -> (e => StGeodesicBuffer(e(0), e(1))),
    "st_geodesic_project" -> (e => StGeodesicProject(e)),
    "st_transform_grid" -> (e => StTransformGrid(e)),
    "st_subdivide" -> (e => StSubdivide(e(0), e(1))),
    "st_snaptogrid" -> (e => StSnapToGrid(e(0), e(1))),
    "st_reverse" -> (e => StReverse(e.head)),
    "st_boundary" -> (e => StBoundary(e.head)),
    "st_pointonsurface" -> (e => StPointOnSurface(e.head)),
    "st_isclosed" -> (e => StIsClosed(e.head)),
    "st_azimuth" -> (e => StAzimuth(e)),
    "st_hausdorff_distance" -> (e => StHausdorff(e(0), e(1))),
    "st_frechet_distance" -> (e => StFrechet(e(0), e(1))),
    "st_delaunay" -> (e => StDelaunay(e.head)),
    "st_triangulate" -> (e => StTriangulate(e.head)),
    "st_makepolygon" -> (e => StMakePolygon(e.head)),
    "st_line_interpolate_point" -> (e => StLineInterpolate(e(0), e(1))),
    "st_line_locate_point" -> (e => StLineLocate(e(0), e(1), e(2))),
    "st_line_substring" -> (e => StLineSubstring(e(0), e(1), e(2))),
    "st_voronoi" -> (e => StVoronoi(e)),
    "st_linemerge" -> (e => StLineMerge(e.head)),
    "st_polygonize" -> (e => StPolygonize(e.head)),
    "st_node" -> (e => StNode(e.head)),
    "st_grid_shift" -> (e => StGridShift(e)),
    "st_azimuth_geodesic" -> (e => StAzimuthGeodesic(e)),
    "st_geodetic_densify" -> (e => StGeodeticDensify(e(0), e(1))),
    // cells / tiles (§2.6)
    "st_cellid" -> (e => StCellId(e(0), e(1), e(2))),
    "st_geohash" -> (e => StGeohash(e(0), e(1), e(2))),
    "st_pointfromgeohash" -> (e => StPointFromGeohash(e.head)),
    "st_quadkey" -> (e => StQuadkey(e(0), e(1), e(2))),
    "st_quadkey_x" -> (e => StQuadkeyX(e.head)),
    "st_quadkey_y" -> (e => StQuadkeyY(e.head)),
    "st_cellid_sphere" -> (e => StCellIdSphere(e(0), e(1), e(2))),
    "st_tile_x" -> (e => StTileX(e(0), e(1))),
    "st_tile_y" -> (e => StTileY(e(0), e(1))),
    "st_cell_parent" -> (e => StCellParent(e(0), e(1), e(2))),
    "st_cell_envelope" -> (e => StCellEnvelope(e(0), e(1))),
    "st_cover" -> (e => StCover(e(0), e(1))),
    "st_hexbin" -> (e => StHexbin(e(0), e(1), e(2))),
    "st_hexbin_centerx" -> (e => StHexbinCenterX(e(0), e(1))),
    "st_hexbin_centery" -> (e => StHexbinCenterY(e(0), e(1))),
    "st_hexbin_geom" -> (e => StHexbinGeom(e(0), e(1))),
    "st_tile_envelope" -> (e => StTileEnvelope(e(0), e(1), e(2))),
    "st_cell_ring" -> (e => StCellRing(e(0), e(1), e(2))),
    "st_cellid_norm" -> (e => StCellIdNorm(e(0), e(1), e(2))),
    "st_morton" -> (e => StMorton(e(0), e(1))),
    "st_hilbert" -> (e => StHilbert(e(0), e(1), e(2))),
    "st_norm_x" -> (e => StNormX(e.head)),
    "st_norm_y" -> (e => StNormY(e.head)),
    // images (§2.6 #49)
    "img_width" -> (e => ImgWidth(e.head)),
    "img_height" -> (e => ImgHeight(e.head)),
    "img_rgb" -> (e => ImgRgb(e.head)),
    "img_equalize_rgb" -> (e => ImgEqualize(e.head)),
    "img_gamma_rgb" -> (e => ImgGamma(e(0), e(1))),
    "img_channel_sums" -> (e => ImgChannelSums(e.head)),
    "img_phash" -> (e => ImgPhash(e.head)),
    "img_psnr" -> (e => ImgPsnr(e(0), e(1))),
    "img_psnr_rgb" -> (e => ImgPsnrRgb(e(0), e(1))),
    "img_resize_rgb" -> (e => ImgResize(e(0), e(1), e(2))),
    "st_exteriorring" -> (e => StExteriorRing(e.head)),
    "st_interiorring_n" -> (e => StInteriorRingN(e(0), e(1))),
    "st_numinteriorrings" -> (e => StNumInteriorRings(e.head)),
    "st_geometryn" -> (e => StGeometryN(e(0), e(1))),
    "st_pointn" -> (e => StPointN(e(0), e(1))),
    "st_startpoint" -> (e => StStartPoint(e.head)),
    "st_endpoint" -> (e => StEndPoint(e.head)),
    "st_rasterize_mask" -> (e => StRasterizeMask(e)),
    "st_asmvt_geom" -> (e => StAsMvtGeom(e)),
    "st_chaikin" -> (e => StChaikin(e(0), e(1))),
    "st_inscribedcircle" -> (e => StInscribedCircle(e(0), e(1))),
    "mask_popcount" -> (e => MaskPopcount(e.head)),
    "mask_rle" -> (e => MaskRle(e(0), e(1))),
    "img_moments" -> (e => ImgMoments(e(0), e(1), e(2))),
    "st_rhumb_distance" -> (e => StRhumbDistance(e(0), e(1), e(2), e(3))),
    "st_rhumb_bearing" -> (e => StRhumbBearing(e(0), e(1), e(2), e(3))),
    "mask_dilate" -> (e => MaskDilate(e(0), e(1), e(2))),
    "mask_erode" -> (e => MaskErode(e(0), e(1), e(2))),
    "mask_and" -> (e => MaskAnd(e(0), e(1))),
    "mask_or" -> (e => MaskOr(e(0), e(1))),
    "mask_xor" -> (e => MaskXor(e(0), e(1))),
    "img_gray_rgb" -> (e => ImgGray(e.head)),
    "img_flip_rgb" -> (e => ImgFlip(e)),
    "img_rotate90_rgb" -> (e => ImgRotate90(e)),
    "img_crop_rgb" -> (e => ImgCrop(e)),
    "img_luma_mean" -> (e => ImgLumaMean(e.head)),
    "img_boxblur_rgb" -> (e => ImgBoxBlur(e(0), e(1), e(2))),
    "img_median3_rgb" -> (e => ImgMedian3(e(0), e(1), e(2))),
    "img_dither_rgb" -> (e => ImgDitherFs(e(0), e(1), e(2))),
    "img_sad" -> (e => ImgSad(e(0), e(1))),
    "img_sharpness" -> (e => ImgSharpness(e(0), e(1), e(2))),
    "img_colorhist64" -> (e => ImgColorHist(e.head)),
    "img_edge_stats" -> (e => ImgEdgeStats(e(0), e(1), e(2))),
    "img_luma_hist16" -> (e => ImgLumaHist16(e.head)),
    "img_glcm8" -> (e => ImgGlcm8(e(0), e(1), e(2))),
    "img_lbp_hist" -> (e => ImgLbpHist(e(0), e(1), e(2))),
    "img_harris" -> (e => ImgHarris(e(0), e(1), e(2))),
    "img_hue_hist" -> (e => ImgHueHist(e.head)),
    "img_pal332" -> (e => ImgPal332(e.head)),
    "img_haar" -> (e => ImgHaar(e(0), e(1), e(2))),
    "img_mediancut" -> (e => ImgMedianCut8(e.head)),
    "img_ssim_rgb" -> (e => ImgSsim(e(0), e(1), e(2), e(3))),
    "bit_hamming" -> (e => BitHamming(e(0), e(1))),
    // multimodal opaque-binary columns (GMV1 container; stub codec)
    "media_kind" -> (e => MediaKind(e.head)),
    "media_meta" -> (e => MediaMeta(e.head)),
    "media_frame" -> (e => MediaFrame(e(0), e(1))),
    "media_frame_sample" -> (e => MediaFrameSample(e(0), e(1))),
    "audio_rms_windows" -> (e => AudioRmsWindows(e(0), e(1))),
    "audio_zcr_windows" -> (e => AudioZcrWindows(e(0), e(1))),
    "img_phash_rgb" -> (e => ImgPhashRgb(e(0), e(1), e(2))),
    "img_phash256" -> (e => ImgPhash256(e.head)),
    "img_phash256_rgb" -> (e => ImgPhash256Rgb(e(0), e(1), e(2))),
    // text analysis / dedup (training-data pipeline ops)
    "text_lang_id" -> (e => TextLangId(e.head)),
    "text_redact_pii" -> (e => TextRedactPii(e.head)),
    "text_normalize" -> (e => TextNormalize(e.head)),
    "text_quality" -> (e => TextQuality(e.head)),
    "text_token_count" -> (e => TextTokenCount(e.head)),
    "text_token_count_bpe" -> (e => TextTokenCountBpe(e.head)),
    "text_bpe_merge" -> (e => TextBpeMerge(e(0), e(1), e(2))),
    "seq_dtw" -> (e => SeqDtw(e(0), e(1))),
    "seq_lcs" -> (e => SeqLcs(e(0), e(1))),
    "text_fingerprint" -> (e => TextFingerprint(e.head)),
    "text_simhash" -> (e => TextSimhash(e.head)),
    "text_simhash128" -> (e => TextSimhash128(e.head)),
    "text_minhash" -> (e => TextMinhash(e(0), e(1))),
    "lsh_bands" -> (e => LshBands(e(0), e(1))),
    "text_jaccard" -> (e => TextJaccard(e(0), e(1))),
    "text_ngram_jaccard" -> (e => TextNgramJaccard(e(0), e(1), e(2))),
    "text_shingles" -> (e => TextShingles(e(0), e(1))),
    "text_window_sig" -> (e => TextWindowSig(e(0), e(1))),
    "text_chunks" -> (e => TextChunks(e(0), e(1), e(2))),
    // embedding vectors
    "vec_dot" -> (e => VecDot(e(0), e(1))),
    "vec_dot_q" -> (e => VecDotQ(e(0), e(1))),
    "vec_cosine" -> (e => VecCosine(e(0), e(1))),
    "vec_ivf_assign" -> (e => VecIvfAssign(e(0), e(1))),
    "vec_ivf_dot" -> (e => VecIvfDot(e(0), e(1), e(2))),
    "vec_ivf_cos" -> (e => VecIvfCos(e(0), e(1), e(2))),
    "vec_norm" -> (e => VecNorm(e.head)),
    "vec_pq_encode" -> (e => VecPqEncode(e(0), e(1))),
    "vec_pq_radius" -> (e => VecPqRadius(e(0), e(1), e(2))),
    "vec_pq_adc" -> (e => VecPqAdc(e(0), e(1))),
    "vec_pq_bucket" -> (e => VecPqBucket(e(0), e(1))),
    "vec_l2_q" -> (e => VecL2Q(e(0), e(1))),
    // aggregates (§2.5 #41)
    "st_envelope_agg" -> (e => StEnvelopeAgg(e.head)),
    "st_convexhull_agg" -> (e => StConvexHullAgg(e.head)),
    "st_union_agg" -> (e => StUnionAgg(e.head)),
    "st_union_points_agg" -> (e => StUnionPointsAgg(e.head)),
    "st_line_agg" -> (e => StLineAgg(e(0), e(1), e(2))),
    // bounded mergeable sketches (scale path for distinct / runtime pruning)
    "kmv_minhashes" -> (e => KmvMinhashes(e(0), e(1))),
    "hll_registers" -> (e => HllRegisters(e.head)),
    "bloom_agg" -> (e => BloomAgg(e(0), e(1), e(2))),
    "bloom_contains" -> (e => BloomContains(e(0), e(1), e(2))),
    "md5_sig60" -> (e => Md5Sig60(e.head)),
    "topk_pairs" -> (e => TopKPairs(e(0), e(1), e(2))),
    "st_asmvt_agg" -> (e => StAsMvtAgg(e(0), e(1)))
  )

  private val ObjAggFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  private val ObjAggFallbackDefault = "16384"

  @volatile private var installedSessions = Set.empty[SparkSession]

  /** Idempotent per-session registration (functions, the optimizer rule
    * and the `PipPass` planner strategy). */
  def install(spark: SparkSession): SparkSession = {
    if (!installedSessions.contains(spark)) synchronized {
      if (!installedSessions.contains(spark)) {
        val reg = spark.sessionState.functionRegistry
        fns.foreach { case (name, builder) =>
          reg.createOrReplaceTempFunction(name, builder, "built-in")
        }
        // ObjectHashAggregate falls back to SORT-based aggregation once a
        // task sees > threshold groups (default 128) — which re-sorts the
        // full candidate set and erases the point of map-side-combinable
        // bounded aggregates like topk_pairs (r6: the kNN round measured
        // 5.6 s sort-fallback vs 1.0 s hash at sf0.1). The engine's typed
        // aggregates keep O(K)-bounded or low-group-count buffers, so 16k
        // in-memory groups is a few MB per task. A value the session
        // already sets is left alone.
        if (!spark.sessionState.conf.contains(ObjAggFallbackKey))
          spark.conf.set(ObjAggFallbackKey, ObjAggFallbackDefault)
        if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[SpatialJoinRewrite]))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ SpatialJoinRewrite()
        if (!spark.experimental.extraStrategies.contains(PipPassStrategy))
          spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ PipPassStrategy
        installedSessions += spark
      }
    }
    spark
  }

  // ---- Column API (delegates through the registry via call_function) ----
  def st_geomfromwkt(c: Column): Column = call_function("st_geomfromwkt", c)
  def st_aswkt(c: Column): Column = call_function("st_aswkt", c)
  def st_point(x: Column, y: Column): Column = call_function("st_point", x, y)
  def st_intersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def st_contains_xy(g: Column, x: Column, y: Column): Column = call_function("st_contains_xy", g, x, y)
  def st_intersects_xy(g: Column, x: Column, y: Column): Column = call_function("st_intersects_xy", g, x, y)
  def st_distance(a: Column, b: Column): Column = call_function("st_distance", a, b)
  def st_dwithin(a: Column, b: Column, d: Column): Column = call_function("st_dwithin", a, b, d)
  def st_dwithin_xy(g: Column, x: Column, y: Column, d: Column): Column = call_function("st_dwithin_xy", g, x, y, d)
  def st_expand(g: Column, d: Column): Column = call_function("st_expand", g, d)
  def st_buffer(g: Column, d: Column): Column = call_function("st_buffer", g, d)
  def st_cellid(lon: Column, lat: Column, level: Column): Column = call_function("st_cellid", lon, lat, level)
  def st_cover(g: Column, level: Column): Column = call_function("st_cover", g, level)
  def st_tile_x(lon: Column, z: Column): Column = call_function("st_tile_x", lon, z)
  def st_tile_y(lat: Column, z: Column): Column = call_function("st_tile_y", lat, z)
  def img_phash(c: Column): Column = call_function("img_phash", c)
  def img_psnr(a: Column, b: Column): Column = call_function("img_psnr", a, b)
}
