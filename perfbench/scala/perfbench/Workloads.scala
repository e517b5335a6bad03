package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Curation, Pipeline, TagStage, Warehouse}
import graft.ops.CategoryMapping
import graft.operators.{AsOfJoin, Bm25Index, IvfIndex, Scd2}
import graft.policy.{AiResponseParser, TagPolicy}
import graft.model.AiTagOutput
import graft.sources.ProductSources
import graft.streaming.StreamingIngest

/** What one timed operation did; `check` runs untimed afterwards and
  * returns the op's order-independent result digest and the names of
  * the checks that failed. */
final case class Done(kind: String, items: Long, check: () => (String, Seq[String]))

/** One workload: a closed loop with a single caller over seeded inputs. */
trait Workload {
  /** Build the workload's state from its inputs, replacing any earlier build. */
  def setup(): Unit
  /** Untimed work that makes op `i` start from a known state. */
  def prepare(i: Int): Unit = ()
  def warmup(): Unit = ()
  def hasOp(i: Int): Boolean
  def run(i: Int): Done
}

object Digest {
  /** Order-independent digest of a DataFrame: row count plus the sum of
    * per-row hashes, computed in one aggregate. */
  def frame(df: DataFrame): String = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}"
  }

  /** The same for rows already collected. */
  def rows(rs: Seq[Row]): String = {
    val s = rs.map(r => scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0001"))
      .toLong & 0xffffffffL).sum
    s"${rs.size}:${java.lang.Long.toHexString(s)}"
  }
}

object Inputs {
  def readJson(path: String): Any =
    org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")).values

  def readJsonLines(path: String): IndexedSeq[Map[String, Any]] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map(l => org.json4s.jackson.JsonMethods.parse(l).values.asInstanceOf[Map[String, Any]])
      .toIndexedSeq

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.getPath)))
      f.delete()
    }
  }

  def dropTables(spark: SparkSession, names: String*): Unit =
    names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}

/** catalog_refresh — the paper's pipeline in EndToEndPipelineSpec's
  * order: scan the file-per-product tree, validate and transform, upsert
  * into the bucketed warehouse, tag (P2∘P1), patch and mark curated.
  * Every op starts from the same warehouse: `prepare` restores it. */
final class CatalogRefresh(spark: SparkSession, in: String, work: String,
                           facts: Map[String, Any]) extends Workload {
  import spark.implicits._
  private val f = facts("refresh").asInstanceOf[Map[String, Any]]
  private val tree = s"$in/refresh/tree"
  private var base: DataFrame = _
  private val patchSchema = StructType(Seq(
    StructField("product_id", StringType), StructField("field_name", StringType),
    StructField("action", StringType), StructField("value", StringType),
    StructField("curator", StringType), StructField("feedback_reason", StringType),
    StructField("feedback_category", StringType)))

  private def clean(raw: DataFrame, version: Int): DataFrame =
    Pipeline.transformProducts(Pipeline.validProducts(raw))
      .withColumn("category_refitd", CategoryMapping.categoryRefitd(col("category")))
      .withColumn("v", lit(version))

  def setup(): Unit = {
    Inputs.dropTables(spark, "products", "products__staging")
    base = clean(spark.read.schema(ProductSources.rawProductSchema)
        .json(s"$in/refresh/base.jsonl").withColumn("brand_name", lit("zara")), 1)
      .localCheckpoint(true)
    Warehouse.writeBucketed(base, "products", "product_id", 8)
    if (Trace.active) tagPolicyProbe()
  }

  override def prepare(i: Int): Unit =
    if (i > 0) Warehouse.writeBucketed(base, "products", "product_id", 8)

  def hasOp(i: Int): Boolean = true

  def run(i: Int): Done = {
    val raw = Trace.span("sources.readProductTree") {
      ProductSources.readProductTree(spark, tree)
    }
    Trace.span("etl.Warehouse.upsertBucketed") {
      Warehouse.upsertBucketed(spark, "products", clean(raw, 2), "product_id", "v", 8)
    }
    val responses = spark.read.schema("product_id STRING, raw_response STRING")
      .json(s"$in/refresh/responses.jsonl")
    val input = TagStage.fromDataFrame(responses.join(
      spark.table("products").select(col("product_id"),
        col("category_refitd").as("category"), col("name").as("product_name"),
        col("category").as("subcategory")), "product_id"))
    Trace.span("etl.TagStage.run") {
      TagStage.run(input).write.mode(SaveMode.Overwrite).parquet(s"$work/tagged")
    }
    val tagged = spark.read.parquet(s"$work/tagged")
      .withColumn("tags_final", to_json(struct(col("category"),
        col("style_identity"), col("fit"), col("silhouette"), col("formality"),
        col("shoe_type"))))
    val patches = spark.read.schema(patchSchema).json(s"$in/refresh/patches.jsonl")
      .as[Curation.TagPatch]
    Trace.span("etl.Curation.patchTagsCombined") {
      Curation.patchTagsCombined(tagged, patches)
        .write.mode(SaveMode.Overwrite).parquet(s"$work/patched")
    }
    Trace.span("etl.Curation.markCurated") {
      val patched = spark.read.parquet(s"$work/patched")
        .select(col("result.product_id").as("product_id"),
          col("result.tags_final").as("tags_final"))
        .join(tagged.select(col("product_id"), col("tags_final").as("original_ai_tags")),
          "product_id")
      val out = Curation.markCurated(patched, "bench-curator", "2026-01-02 00:00:00")
      out.statusUpsert.write.mode(SaveMode.Overwrite).parquet(s"$work/curation_status")
      out.productStamps.write.mode(SaveMode.Overwrite).parquet(s"$work/curation_stamps")
      out.historyAppend.write.mode(SaveMode.Overwrite).parquet(s"$work/curation_history")
    }
    Done("refresh", f("tree_products").asInstanceOf[BigInt].toLong, () => check())
  }

  private def check(): (String, Seq[String]) = {
    val bad = Seq.newBuilder[String]
    val wh = spark.table("products")
    val n = wh.count()
    if (n != f("expected_warehouse_rows").asInstanceOf[BigInt].toLong)
      bad += s"warehouse_rows:$n"
    val invalid = f("invalid_ids").asInstanceOf[Seq[String]]
    if (wh.filter(col("product_id").isin(invalid: _*)).count() != 0)
      bad += "invalid_product_present"
    val prices = f("updated_prices").asInstanceOf[Map[String, Double]]
    val seen = wh.filter(col("product_id").isin(prices.keys.toSeq: _*))
      .select("product_id", "price_current").as[(String, Double)].collect().toMap
    if (seen != prices) bad += "updated_price_not_visible"
    val tagged = spark.read.parquet(s"$work/tagged")
    if (tagged.count() != f("valid_tree_products").asInstanceOf[BigInt].toLong)
      bad += "tagged_rows"
    val history = spark.read.parquet(s"$work/curation_history")
    if (history.count() != f("patches").asInstanceOf[BigInt].toLong) bad += "curated_rows"
    val digest = Seq(
      Digest.frame(wh.select("product_id", "name", "price_current", "category_refitd", "v")),
      Digest.frame(tagged.select("product_id", "curation_status", "style_identity",
        "formality", "parse_failed")),
      Digest.frame(history.select("product_id", "corrected_tags", "change_summary")))
      .mkString("/")
    (digest, bad.result())
  }

  /** policy.TagPolicy.us_per_row: the tag policy called directly, on one
    * thread, over the same responses TagStage maps. */
  private def tagPolicyProbe(): Unit = {
    val rows = spark.read.schema("product_id STRING, raw_response STRING")
      .json(s"$in/refresh/responses.jsonl")
      .join(base.select(col("product_id"), col("category_refitd"), col("name"),
        col("category")), "product_id")
      .select("raw_response", "category_refitd", "name", "category")
      .as[(String, String, String, String)].collect()
    def pass(): Double = {
      val t0 = System.nanoTime()
      rows.foreach { case (resp, cat, name, sub) =>
        val ai = AiResponseParser.parse(resp, cat).getOrElse(AiTagOutput(category = Some(cat)))
        TagPolicy(ai, Some(cat), productName = Some(name), subcategory = Some(sub))
      }
      (System.nanoTime() - t0) / 1e3 / math.max(1, rows.length)
    }
    val runs = (1 to 5).map(_ => pass()).sorted
    Trace.gauge("policy.TagPolicy.us_per_row", runs(runs.size / 2))
  }
}

/** corpus_ingest — StreamingIngest's foreachBatch sink called directly
  * on seeded doc batches, against a warehouse bootstrapped from 6/7 of
  * the documents. State grows with every batch; op `i` ingests batch `i`. */
final class CorpusIngest(spark: SparkSession, in: String, work: String,
                         facts: Map[String, Any]) extends Workload {
  private val f = facts("ingest").asInstanceOf[Map[String, Any]]
  private val batches = f("batches").asInstanceOf[Seq[Map[String, Any]]]
  private val wh = s"$work/ingest_wh"

  def setup(): Unit = {
    Inputs.deleteTree(wh)
    val docs = spark.read.parquet(s"$in/ingest/warehouse.parquet")
    val bench = spark.read.parquet(s"$in/ingest/benchmark.parquet")
    Trace.span("streaming.StreamingIngest.bootstrap") {
      StreamingIngest.bootstrap(wh, docs, bench, "doc_id", "lang", "source", "text", "n_chars")
    }
  }

  def hasOp(i: Int): Boolean = i < batches.size

  def run(i: Int): Done = {
    val batch = spark.read.parquet(s"$in/ingest/batch-$i.parquet")
    Trace.span("streaming.StreamingIngest.ingestSink") {
      StreamingIngest.ingestSink(wh, "doc_id", "lang", "source", "text", "n_chars")(batch, i.toLong)
    }
    val b = batches(i)
    Done("ingest", b("docs").asInstanceOf[BigInt].toLong, () => check(i, b))
  }

  private def check(i: Int, b: Map[String, Any]): (String, Seq[String]) = {
    val bad = Seq.newBuilder[String]
    val rows = spark.read.parquet(s"$wh/decisions/batch=$i")
      .select("doc_id", "verdict", "survivor", "shard").collect().toSeq
    val verdict = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    if (rows.size != b("docs").asInstanceOf[BigInt].toInt) bad += s"decision_rows:${rows.size}"
    def ids(k: String) = b(k).asInstanceOf[Seq[BigInt]].map(_.toLong)
    val missedDup = ids("exact_dup_ids").count(d => !verdict.get(d).contains("exact_dup"))
    if (missedDup > 0) bad += s"exact_dup_missed:$missedDup"
    val missedDirty = ids("dirty_ids").count(d => !verdict.get(d).contains("dirty_13gram"))
    if (missedDirty > 0) bad += s"dirty_13gram_missed:$missedDirty"
    (Digest.rows(rows), bad.result())
  }
}

/** catalog_reads — a Zipf-keyed read mix against the catalog's read
  * surface: point lookups and listings over the bucketed warehouse, IVF
  * nearest neighbours, BM25 search from persisted state and an as-of
  * join against a bucketed SCD2 history. */
final class CatalogReads(spark: SparkSession, in: String, work: String,
                         facts: Map[String, Any]) extends Workload {
  import spark.implicits._
  private val mix = Inputs.readJsonLines(s"$in/reads/mix.jsonl")
  private val terms = Inputs.readJson(s"$in/reads/terms.json").asInstanceOf[Seq[String]]
  private lazy val vectors: Map[Long, Seq[Float]] =
    spark.read.parquet(s"$in/reads/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap

  def setup(): Unit = {
    Inputs.dropTables(spark, "catalog", "ivf", "ivf_centroids", "bm25_stats",
      "bm25_agg", "scd2")
    Warehouse.writeBucketed(spark.read.parquet(s"$in/reads/products.parquet"),
      "catalog", "product_id", 8)
    IvfIndex.build(spark.read.parquet(s"$in/reads/embeddings.parquet"),
      "vec_id", "embedding", "ivf", numCells = 8, buckets = 8)
    val stats = Bm25Index.docStats(spark.read.parquet(s"$in/reads/docs.parquet"),
      "doc_id", "text", terms).localCheckpoint(true)
    stats.write.format("parquet").saveAsTable("bm25_stats")
    Bm25Index.corpusAgg(stats, terms).write.format("parquet").saveAsTable("bm25_agg")
    val events = spark.read.parquet(s"$in/reads/events.parquet")
    Warehouse.writeBucketed(
      Scd2.fromChangeLog(events, Seq("user_id"), "ts", "event_id", Seq("event_type")),
      "scd2", "user_id", 8)
    val ivfFiles = spark.table("ivf").inputFiles.length
    Trace.gauge("read.similar.#index_files", ivfFiles)
  }

  /** The mix's last block (every kind, in its share), untimed: each read
    * path is planned, code-generated and JIT-compiled before the window
    * opens, and the measured ops start at the mix's head. */
  override def warmup(): Unit = (mix.size - WarmupOps until mix.size).foreach(read)

  private val WarmupOps = 20

  def hasOp(i: Int): Boolean = true

  def run(i: Int): Done = read(i % mix.size)

  private def read(i: Int): Done = {
    val op = mix(i)
    val kind = op("kind").toString
    val key = op("key")
    val rows: Seq[Row] = Trace.span(s"read.$kind") {
      kind match {
        case "lookup" =>
          spark.table("catalog").filter(col("product_id") === key.toString).collect().toSeq
        case "listing" =>
          spark.table("catalog").filter(col("category") === key.toString)
            .orderBy(col("price").desc, col("product_id")).limit(10).collect().toSeq
        case "similar" =>
          IvfIndex.topKIndexed(spark, "ivf", "vec_id", "embedding",
            vectors(key.asInstanceOf[BigInt].toLong), 10)
            .select("vec_id", "sim_e6").collect().toSeq
        case "search" =>
          val ts = op("terms").asInstanceOf[Seq[String]]
          Bm25Index.scoreFromState(spark.table("bm25_stats"), spark.table("bm25_agg"),
              "doc_id", ts)
            .orderBy(col("bm25_e6").desc, col("doc_id")).limit(10)
            .select("doc_id", "bm25_e6").collect().toSeq
        case "asof" =>
          val times = op("times").asInstanceOf[Seq[BigInt]].map(_.toLong).distinct
          val left = times.toDF("t").withColumn("user_id", lit(key.asInstanceOf[BigInt].toLong))
          AsOfJoin.backwardViaJoin(left, spark.table("scd2"), Seq("user_id"), "t",
              "valid_from", Seq("event_type", "version"))
            .select("t", "asof_event_type", "asof_version").collect().toSeq
      }
    }
    Done(kind, 1L, () => (Digest.rows(rows), checkRead(op, kind, rows)))
  }

  private def checkRead(op: Map[String, Any], kind: String, rows: Seq[Row]): Seq[String] = {
    val key = op("key")
    val ok = kind match {
      case "lookup" => rows.size == 1 && rows.head.getAs[String]("product_id") == key
      case "listing" =>
        val prices = rows.map(_.getAs[Double]("price"))
        rows.nonEmpty && rows.forall(_.getAs[String]("category") == key) &&
          prices.zip(prices.drop(1)).forall { case (a, b) => a >= b }
      case "similar" =>
        // a corpus member's own vector is its nearest neighbour (an exact
        // duplicate vector with a smaller id may tie it)
        val id = key.asInstanceOf[BigInt].toLong
        rows.nonEmpty && rows.head.getLong(1) >= 999999L &&
          rows.takeWhile(_.getLong(1) == rows.head.getLong(1)).exists(_.getLong(0) == id)
      case "search" =>
        val scores = rows.map(_.getLong(1))
        val sorted = scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
        sorted && op.get("expect_top").forall(t =>
          rows.nonEmpty && rows.head.getLong(0) == t.asInstanceOf[BigInt].toLong)
      case "asof" =>
        rows.size == op("times").asInstanceOf[Seq[BigInt]].distinct.size
    }
    if (ok) Nil else Seq(s"${kind}_wrong_result")
  }
}
