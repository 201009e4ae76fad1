package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{DictScanner, Extract}
import graft.model.{ForwardParams, ReverseParams}

/**
 * The flagship end-to-end job (north_star): pages -> mention/coordinate
 * extraction -> forward geocode (name mentions x broadcast gazetteer) +
 * reverse geocode (coordinate literals x polygon PIP) -> web-mercator tile
 * assignment. One scan of pages, two broadcast joins, one union; the only
 * shuffles are the per-(url, mention) top-k window and the optional tile
 * rollup. Every output row carries text_sha256 (byte-identity invariant).
 *
 * Stage boundaries can checkpoint (E10) via cfg.ckptDir — each stage then
 * resumes idempotently from Parquet + lineage.
 */
object Pipeline {

  case class Config(
      tileZ: Int = 12,
      ckptDir: Option[String] = None,
      runId: String = "run",
      fwdParams: ForwardParams = ForwardParams(limit = Some(1)),
      revParams: ReverseParams = ReverseParams(),
      // stage name -> identity columns for PORTABLE lineage checksums
      // (sha60 over a string projection an external engine can recompute
      // from the stage parquet); empty = fast xxhash64 over all columns
      lineageKeys: Map[String, Seq[String]] = Map.empty)

  private def maybeStage(spark: SparkSession, cfg: Config, name: String,
                         fingerprint: String)
                        (build: => DataFrame): DataFrame =
    cfg.ckptDir match {
      case Some(dir) =>
        Checkpoint.stage(spark, dir, name, cfg.runId, fingerprint,
          cfg.lineageKeys.getOrElse(name, Nil))(build)
      case None => build
    }

  /** Stage fingerprint: input schema + job params. A resume against the same
    * ckptDir with a different input shape or different Config recomputes
    * instead of returning stale output (Checkpoint.stage validates). */
  private def fingerprintOf(pages: DataFrame, cfg: Config): String = {
    val s = pages.schema.json + "|" + cfg.tileZ + "|" + cfg.fwdParams + "|" + cfg.revParams
    java.lang.Long.toHexString(graft.text.TextCore.fnv64(s))
  }

  /** Geocoded hits: one row per (url, mention) with resolved coordinates.
    * verb='forward' rows resolve name mentions to gazetteer places;
    * verb='reverse' rows resolve coordinate literals to admin polygons.
    *
    * FUSED single-pass plan (the 100 TB shape): one scan of pages ->
    * extraction -> two broadcast LEFT joins (top-1 name index on `norm`;
    * packed polygon cell index on `cell`) -> conditional projection -> tile
    * assignment. The big side never shuffles, never aggregates, and is
    * scanned exactly once; the only exchange in the whole job is the
    * optional per-tile rollup. Skew needs no salting here because there is
    * no shuffle key at all — hot cells cost only broadcast-probe time.
    */
  def geocode(spark: SparkSession, pages: DataFrame, nameIndex: DataFrame,
              polygons: DataFrame, polyCells: DataFrame, scanner: DictScanner,
              cfg: Config = Config()): DataFrame = {

    val fp = fingerprintOf(pages, cfg)
    val mentions = maybeStage(spark, cfg, "mentions", fp) {
      Extract.mentions(spark, pages, scanner)
    }

    maybeStage(spark, cfg, "hits", fp) {
      hitsPrepared(mentions, prepare(nameIndex, polygons, polyCells, cfg, cache = false), cfg)
    }
  }

  /** The two broadcast-side indexes, built once and reusable across batches.
    * In production the gazetteer/polygon indexes amortize over the whole
    * crawl — rebuild them per batch only if the gazetteer changed. `cache`
    * persists them so repeated geocodePrepared calls pay only the (small)
    * broadcast hash-relation build, not the index aggregation. */
  case class Prepared(top1: DataFrame, packed: DataFrame)

  def prepare(nameIndex: DataFrame, polygons: DataFrame, polyCells: DataFrame,
              cfg: Config = Config(), cache: Boolean = true): Prepared = {
    val top1 = top1Index(nameIndex, cfg)
    val packed = Reverse.packedCellIndex(polygons, polyCells)
    if (cache) Prepared(top1.cache(), packed.cache())
    else Prepared(top1, packed)
  }

  /** The forward broadcast side: top-1 place per name key, `g_`-prefixed. */
  private def top1Index(nameIndex: DataFrame, cfg: Config): DataFrame =
    Forward.top1Index(nameIndex, cfg.fwdParams)
      .select(col("gaz_key"), col("place_id").as("g_place_id"),
        col("name").as("g_name"), col("lon").as("g_lon"), col("lat").as("g_lat"),
        col("country_code").as("g_cc"), col("city").as("g_city"),
        col("road").as("g_road"), col("house_number").as("g_house"),
        col("postcode").as("g_postcode"))

  /** Steady-state batch geocode over PRE-BUILT indexes (see prepare): the
    * shape of a production crawl loop, where the broadcast sides are built
    * once and every pages batch pays only its own map work. */
  def geocodePrepared(spark: SparkSession, pages: DataFrame, prep: Prepared,
                      scanner: DictScanner, cfg: Config = Config()): DataFrame =
    hitsPrepared(Extract.mentions(spark, pages, scanner), prep, cfg)

  /** Mentions -> hits over the prepared indexes, both probed by broadcast. */
  private def hitsPrepared(mentions: DataFrame, prep: Prepared, cfg: Config): DataFrame =
    fuseHits(withCoordCell(mentions), prep.top1,
      df => df.join(broadcast(prep.packed), Seq("cell"), "left"), cfg)

  /**
   * World-polygon-scale variant (the flagship shape when admin polygons
   * outgrow the broadcast budget): the packed cell index lives as a
   * cell-BUCKETED table (written once by worldScaleLayout — amortized over
   * every batch), and the extraction output is written bucketed by the same
   * key at its stage boundary, so the reverse join is a ZERO-EXCHANGE
   * sort-merge join. The forward side stays a broadcast hash
   * join (the top-1 name index is always small). The only price vs the
   * broadcast path is the bucketed write of the mentions — which a
   * checkpointing pipeline pays anyway (E10 stages materialize).
   */
  def geocodeWorldScale(spark: SparkSession, pages: DataFrame, nameIndex: DataFrame,
                        polygons: DataFrame, polyCells: DataFrame, scanner: DictScanner,
                        warehouseDir: String, buckets: Int = 32,
                        cfg: Config = Config(),
                        reusePacked: Boolean = true): DataFrame = {
    val (mentionsTable, packedTable) = worldScaleLayout(spark, pages, polygons,
      polyCells, scanner, warehouseDir, buckets, cfg, reusePacked)
    geocodeWorldScaleRead(spark, mentionsTable, packedTable, nameIndex, cfg)
  }

  /** The write half of the world-scale path: materialize the cell-bucketed
    * mentions + packed-polygon tables. Table names carry cfg.runId so
    * concurrent jobs sharing a metastore never clobber each other. When
    * `reusePacked` and a packed table with a matching fingerprint already
    * exists (Checkpoint-style probe on its path), its write is SKIPPED — the
    * packed index amortizes over every batch in production, so a steady-state
    * crawl pays it once, not per invocation. */
  def worldScaleLayout(spark: SparkSession, pages: DataFrame,
                       polygons: DataFrame, polyCells: DataFrame, scanner: DictScanner,
                       warehouseDir: String, buckets: Int = 32,
                       cfg: Config = Config(),
                       reusePacked: Boolean = true): (String, String) = {
    val mentionsTable = s"graft_mentions_bucketed_${cfg.runId}"
    val packedTable = s"graft_polycells_bucketed_${cfg.runId}"
    val packedPath = s"$warehouseDir/polycells_bucketed_${cfg.runId}"
    // fingerprint = polygon schema + bucket count + a CONTENT digest of both
    // index inputs (count + order-insensitive bit_xor of row hashes over the
    // identity-bearing columns), so refreshing polygon content under the same
    // schema/runId rewrites the packed index instead of silently reusing a
    // stale one. The digest scan costs one pass over the polygon tables —
    // negligible next to the pages side they amortize against.
    val packedFp = java.lang.Long.toHexString(
      graft.text.TextCore.fnv64(polygons.schema.json + "|" + buckets + "|" +
        contentDigest(polygons.select(col("polygon_id"), col("name"),
          col("admin_level"), col("ring_offsets"), col("ring_lons"),
          col("ring_lats"))) + "|" +
        contentDigest(polyCells.select(col("cell"), col("polygon_id")))))
    val reusable = reusePacked &&
      Checkpoint.exists(spark, packedPath) &&
      Checkpoint.pathFingerprint(spark, packedPath).contains(packedFp)
    val packed = Reverse.packedCellIndex(polygons, polyCells)
    if (reusable && !spark.catalog.tableExists(packedTable)) {
      // the files exist (e.g. written by a previous job/session) but this
      // session's catalog doesn't know them: re-register the EXTERNAL table
      // with its bucket spec instead of rewriting — the packed world index
      // is built once and amortizes over every batch job that reads it
      spark.sql(s"CREATE TABLE $packedTable (${packed.schema.toDDL}) USING PARQUET " +
        s"CLUSTERED BY (cell) SORTED BY (cell) INTO $buckets BUCKETS " +
        s"LOCATION '$packedPath'")
    }
    if (!reusable) {
      // one shuffle at build time; zero at query time
      spark.sql(s"DROP TABLE IF EXISTS $packedTable")
      packed.write.bucketBy(buckets, "cell").sortBy("cell")
        .option("path", packedPath).mode("overwrite").saveAsTable(packedTable)
      Checkpoint.writePathFingerprint(spark, packedPath, packedFp)
    }
    val mentions = withCoordCell(Extract.mentions(spark, pages, scanner))
    spark.sql(s"DROP TABLE IF EXISTS $mentionsTable")
    mentions.write.bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$warehouseDir/mentions_bucketed_${cfg.runId}")
      .mode("overwrite").saveAsTable(mentionsTable)
    (mentionsTable, packedTable)
  }

  /** The read half of the world-scale path over pre-written bucketed tables:
    * zero-exchange SMJ reverse + broadcast forward — the steady-state cost a
    * crawl pays per batch once the layout exists. */
  def geocodeWorldScaleRead(spark: SparkSession, mentionsTable: String,
                            packedTable: String, nameIndex: DataFrame,
                            cfg: Config = Config()): DataFrame =
    fuseHits(spark.table(mentionsTable), top1Index(nameIndex, cfg),
      df => df.hint("merge").join(spark.table(packedTable), Seq("cell"), "left"),
      cfg)

  /** Cheap order-insensitive content digest: row count + bit_xor of
    * per-row xxhash64 over the given (hashable) columns. */
  private def contentDigest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(__h)"), lit(0L)).as("x"))
      .head()
    r.getLong(0) + ":" + java.lang.Long.toHexString(r.getLong(1))
  }

  private def withCoordCell(mentions: DataFrame): DataFrame =
    mentions.withColumn("cell", when(col("kind") === "coord",
      graft.functions.GeoFunctions.cellId(col("lon"), col("lat"),
        lit(graft.geo.CellIndex.FineLevel))))

  /** The fused single-pass projection shared by the broadcast and bucketed
    * paths; `top1` is the prepared forward index, `revJoin` supplies the
    * packed-index join strategy. */
  private def fuseHits(mentions: DataFrame, top1: DataFrame,
                       revJoin: DataFrame => DataFrame, cfg: Config): DataFrame = {
    val lang = cfg.revParams.language.map(_.toLowerCase(java.util.Locale.ROOT))
    val fwdCountry = Format.countryNameCol(col("g_cc"), lang)

    val joined = Reverse.probe(revJoin(
      mentions.join(broadcast(top1), mentions("norm") === top1("gaz_key"), "left")))

    def rv(f: String) = col(Reverse.Best).getField(f)
    val rev = Reverse.address(rv, cfg.revParams.language)

    val hits = joined
      .withColumn("verb",
        when(col("kind") === "name" && col("g_place_id").isNotNull, "forward")
          .when(col("kind") === "coord" && rv("polygon_id").isNotNull, "reverse"))
      .filter(col("verb").isNotNull)
      .withColumn("name", when(col("verb") === "forward", col("g_name"))
        .otherwise(rv("name")))
      .withColumn("ref_id", when(col("verb") === "forward", col("g_place_id"))
        .otherwise(rv("polygon_id")))
      .withColumn("lon", when(col("verb") === "forward", col("g_lon"))
        .otherwise(col("lon")))
      .withColumn("lat", when(col("verb") === "forward", col("g_lat"))
        .otherwise(col("lat")))
      .withColumn("formatted", when(col("verb") === "forward",
        Format.opencageFormatted(col("g_name"), col("g_house"), col("g_road"),
          col("g_postcode"), col("g_city"), fwdCountry))
        .otherwise(rev.formatted))
      .select("url", "warc_ts", "lang", "text_sha256", "surface", "verb",
        "name", "ref_id", "lon", "lat", "formatted")

    Tiler.assign(hits, cfg.tileZ)
  }

  /** Per-tile rollup of the geocoded hits (E7 aggregation). */
  def tiles(hits: DataFrame): DataFrame =
    hits.groupBy("tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_hits"),
        approx_count_distinct(col("url")).as("approx_pages"))
}
