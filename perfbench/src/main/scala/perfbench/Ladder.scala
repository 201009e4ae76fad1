package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Format, Pipeline, Reverse, Tiler}
import graft.etl.{DictScanner, Extract}
import graft.functions.GeoFunctions
import graft.geo.CellIndex

/**
 * Cumulative prefixes of the flagship, built from public functions only:
 * the text scan; + `Extract.mentions`; + the broadcast join on `prep.top1`;
 * + `GeoFunctions.cellId`, the `prep.packed` join and `Reverse.bestPolygon`;
 * + formatting and `Tiler.assign`, which is the whole of `geocodePrepared`.
 * The last prefix must be digest-equal to `Pipeline.geocodePrepared`.
 */
object Ladder {
  val Names = Seq("scan", "extract", "forward", "reverse", "format_tile")

  def prefixes(spark: SparkSession, pages: DataFrame, prep: Pipeline.Prepared,
               scanner: DictScanner, cfg: Pipeline.Config): Seq[(String, DataFrame)] = {
    val scan = pages.select(col("url"), col("warc_ts"), col("lang"), col("text"))
    val mentions = Extract.mentions(spark, pages, scanner)
    val forward = mentions.join(broadcast(prep.top1),
      mentions("norm") === prep.top1("gaz_key"), "left")
    val reverse = forward
      .withColumn("cell", when(col("kind") === "coord",
        GeoFunctions.cellId(col("lon"), col("lat"), lit(CellIndex.FineLevel))))
      .join(broadcast(prep.packed), Seq("cell"), "left")
      .withColumn("__rev", Reverse.bestPolygon(col("cands"), col("lon"), col("lat")))
      .drop("cands")
    Seq("scan" -> scan, "extract" -> mentions, "forward" -> forward,
      "reverse" -> reverse, "format_tile" -> formatTile(reverse, cfg))
  }

  /** Verb, name, ref_id, coordinates and formatted address of each
    * resolved mention, then web-mercator tiles. */
  private def formatTile(joined: DataFrame, cfg: Pipeline.Config): DataFrame = {
    val lang = cfg.revParams.language.map(_.toLowerCase(java.util.Locale.ROOT))
    def rv(f: String) = col("__rev").getField(f)
    val revCity = lang.map(l => coalesce(element_at(rv("loc_city"), l), rv("fmt_city")))
      .getOrElse(rv("fmt_city"))
    val revCountry = lang.map(l => coalesce(element_at(rv("loc_country"), l), rv("fmt_country")))
      .getOrElse(rv("fmt_country"))
    val fwd = col("verb") === "forward"
    val hits = joined
      .withColumn("verb",
        when(col("kind") === "name" && col("g_place_id").isNotNull, "forward")
          .when(col("kind") === "coord" && rv("polygon_id").isNotNull, "reverse"))
      .filter(col("verb").isNotNull)
      .withColumn("name", when(fwd, col("g_name")).otherwise(rv("name")))
      .withColumn("ref_id", when(fwd, col("g_place_id")).otherwise(rv("polygon_id")))
      .withColumn("lon", when(fwd, col("g_lon")).otherwise(col("lon")))
      .withColumn("lat", when(fwd, col("g_lat")).otherwise(col("lat")))
      .withColumn("formatted", when(fwd,
        Format.opencageFormatted(col("g_name"), col("g_house"), col("g_road"),
          col("g_postcode"), col("g_city"), Format.countryNameCol(col("g_cc"), lang)))
        .otherwise(
          when(rv("fmt_road").isNotNull, concat_ws(", ",
            rv("fmt_road"), rv("fmt_house"),
            concat_ws(" ", rv("fmt_postcode"), revCity), revCountry))
            .otherwise(concat_ws(", ", rv("name"), revCity, revCountry))))
      .select("url", "warc_ts", "lang", "text_sha256", "surface", "verb",
        "name", "ref_id", "lon", "lat", "formatted")
    Tiler.assign(hits, cfg.tileZ)
  }

  /** Order-insensitive digest: row count and bit_xor of per-row xxhash64. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("__h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("__h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
