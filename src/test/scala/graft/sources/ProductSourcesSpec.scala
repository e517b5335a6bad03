package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class ProductSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def writeTree(): String = {
    val root = Files.createTempDirectory("graft-tree").toString
    def put(cat: String, pid: String, json: String): Unit = {
      val dir = Paths.get(root, cat, pid)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("metadata.json"), json)
    }
    put("shirts", "p1",
      """{"product_id": "p1", "name": "Linen Shirt", "category": "WRONG",
          "price_current": 49.9, "colors": ["White"],
          "sizes": [{"size": "M", "available": true, "availability": "in_stock", "sku": 5}],
          "composition_structured": {"parts": [{"name": "OUTER", "areas":
            [{"name": "MAIN", "components": [{"material": "linen", "percentage": "100%"}]}]}]}}""")
    put("jeans", "p2", """{"product_id": "p2", "name": "Slim Jeans", "price_current": 59.9}""")
    root
  }

  test("S3: JSON tree scan injects category from path, schema is explicit") {
    val df = ProductSources.readProductTree(spark, writeTree())
    val rows = df.select("product_id", "category", "name", "brand_name")
      .as[(String, String, String, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("p1", "shirts", "Linen Shirt", "zara"), // path category overrides embedded
      ("p2", "jeans", "Slim Jeans", "zara")))
    // nested composition round-trips through the explicit schema
    val comp = df.filter($"product_id" === "p1")
      .selectExpr("composition_structured.parts[0].areas[0].components[0].material")
      .as[String].head()
    assert(comp == "linen")
  }

  test("S3: columns are the raw product schema in order, then brand_name") {
    val df = ProductSources.readProductTree(spark, writeTree())
    assert(df.columns.toSeq ==
      ProductSources.rawProductSchema.fieldNames.toSeq :+ "brand_name")
  }

  test("S3: a missing root fails at the first action and names the path") {
    val root = Paths.get(Files.createTempDirectory("graft-tree").toString, "absent").toString
    val df = ProductSources.readProductTree(spark, root) // lazy: no listing yet
    val e = intercept[Exception](df.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(root)), messages.mkString(" | "))
  }

  test("S3: an empty root reads zero rows") {
    val root = Files.createTempDirectory("graft-tree").toString
    assert(ProductSources.readProductTree(spark, root).count() == 0)
  }

  test("S9/S10/S11: jsonl, envelope dump, summary sinks round-trip") {
    val tmp = Files.createTempDirectory("graft-sinks").toString
    val lines = Seq("""{"a":1}""", """{"a":2}""").toDS()
    ProductSources.writeJsonl(lines, s"$tmp/jsonl", coalesceTo = 1)
    assert(spark.read.text(s"$tmp/jsonl").count() == 2)

    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    ProductSources.writeJsonDump(df, s"$tmp/dump", "2026-02-27T00:00:00Z")
    val dump = spark.read.json(s"$tmp/dump")
    assert(dump.selectExpr("total").as[Long].head() == 2)
    assert(dump.selectExpr("exported_at").as[String].head() == "2026-02-27T00:00:00Z")
    assert(dump.selectExpr("size(products)").as[Int].head() == 2)

    ProductSources.writeSummary(
      df.groupBy().agg(org.apache.spark.sql.functions.count("*").as("n")), s"$tmp/sum")
    assert(spark.read.json(s"$tmp/sum").selectExpr("n").as[Long].head() == 2)
  }

  test("F10: row-validation filter (zara_extractor.py:478-487)") {
    import graft.etl.Pipeline
    val raw = Seq(
      ("ok-images", Seq("u1"), null.asInstanceOf[java.lang.Double]),
      ("ok-price", Seq.empty[String], java.lang.Double.valueOf(10.0)),
      ("", Seq("u1"), java.lang.Double.valueOf(10.0)),
      ("no-signal", Seq.empty[String], null.asInstanceOf[java.lang.Double]))
      .toDF("name", "image_urls", "price_current")
    val kept = Pipeline.validProducts(raw).select("name").as[String].collect().sorted
    assert(kept.toSeq == Seq("ok-images", "ok-price"))
  }
}
