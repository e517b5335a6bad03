package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources & sinks (SURVEY §2.1).
  *
  * S3 — JSON-document directory scan: the reference walks
  * `data/<brand>/<gender>/<category>/<product_id>/metadata.json` and injects
  * `category` from the directory name (curate.py:180-210). Spark-first:
  * one distributed scan with an explicit schema (never inferred in
  * production paths — SURVEY §1.4) through the `product-tree` DataSource
  * V2 connector ([[graft.sources.v2.ProductTreeSource]]), the reader q107
  * checks against the oracle. It lists one glob per category in parallel
  * on the driver, never walks product directories one by one, and prunes
  * category filters and unread columns at the source.
  */
object ProductSources {

  /** Raw product schema (RawProductData, zara_extractor.py:34-60). */
  val rawProductSchema: StructType = StructType(Seq(
    StructField("product_id", StringType),
    StructField("name", StringType),
    StructField("url", StringType),
    StructField("category", StringType),
    StructField("price_current", DoubleType),
    StructField("price_original", DoubleType),
    StructField("currency", StringType),
    StructField("description", StringType),
    StructField("colors", ArrayType(StringType)),
    StructField("color", StringType),
    StructField("parent_product_id", StringType),
    StructField("sizes", ArrayType(StructType(Seq(
      StructField("size", StringType),
      StructField("available", BooleanType),
      StructField("availability", StringType),
      StructField("sku", LongType))))),
    StructField("materials", ArrayType(StringType)),
    StructField("image_urls", ArrayType(StringType)),
    StructField("composition", StringType),
    StructField("composition_structured", StructType(Seq(
      StructField("parts", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("areas", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("components", ArrayType(StructType(Seq(
            StructField("material", StringType),
            StructField("percentage", StringType)))))))))))))))),
    StructField("scraped_at", StringType)))

  /** S3: scan `<root>/<category>/<product_id>/metadata.json`; category from
    * the path (overriding any embedded value, as the reference does), brand
    * the connector's constant. Columns: [[rawProductSchema]], then `brand_name`.
    * A missing root fails at the first action, naming the path; an empty
    * root reads zero rows. */
  def readProductTree(spark: SparkSession, root: String): DataFrame =
    spark.read.format("product-tree").option("path", root).load()

  /** S9 — JSONL export sink (export_training_data.py:209-212): one JSON
    * object per line. */
  def writeJsonl(lines: Dataset[String], path: String, coalesceTo: Int = 0): Unit = {
    val out = if (coalesceTo > 0) lines.coalesce(coalesceTo) else lines
    out.write.mode(SaveMode.Overwrite).text(path)
  }

  /** S10 — single-file JSON dump with envelope
    * (export_supabase_to_json.py:96-110): {exported_at, total, products[]}.
    * With `orderCols` set the product array order is deterministic (the
    * reference dumps in primary-key order); the sort happens on the single
    * coalesced partition, which is fine for a sink that is single-file by
    * contract. Without it, collect_list order follows partial-aggregate
    * merge order. */
  def writeJsonDump(df: DataFrame, path: String, exportedAt: String,
                    orderCols: Seq[String] = Nil): Unit = {
    val src = if (orderCols.isEmpty) df
      else df.coalesce(1).sortWithinPartitions(orderCols.map(col): _*)
    src.agg(collect_list(struct(df.columns.map(col): _*)).as("products"))
      .select(to_json(struct(
        lit(exportedAt).as("exported_at"),
        size(col("products")).as("total"),
        col("products"))).as("value"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** S11 — summary JSON sink (file_loader.py:232-281): aggregate report. */
  def writeSummary(summary: DataFrame, path: String): Unit =
    summary.coalesce(1).write.mode(SaveMode.Overwrite).json(path)
}
