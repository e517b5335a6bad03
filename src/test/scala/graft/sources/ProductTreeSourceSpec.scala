package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** S4 connector (`format("product-tree")`, the reader behind S3's
  * `readProductTree`): parity with an independent glob formulation of the
  * same contract, plus the two prunings asserted SEMANTICALLY — a
  * malformed document placed where pruning should reach it must never be
  * opened (failfast would throw if it were). */
class ProductTreeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeTree(withBroken: Boolean = false): String = {
    val root = Files.createTempDirectory("graft-v2-tree").toString
    def put(cat: String, pid: String, json: String): Unit = {
      val dir = Paths.get(root, cat, pid)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("metadata.json"), json)
    }
    put("shirts", "p1",
      """{"product_id": "p1", "name": "Linen Shirt", "category": "WRONG",
          "price_current": 49.9, "colors": ["White", "Blue"],
          "sizes": [{"size": "M", "available": true, "availability": "in_stock", "sku": 5}],
          "composition_structured": {"parts": [{"name": "OUTER", "areas":
            [{"name": "MAIN", "components": [{"material": "linen", "percentage": "100%"}]}]}]}}""")
    put("shirts", "p3", """{"product_id": "p3", "name": "Oxford", "price_current": 39.9}""")
    put("jeans", "p2", """{"product_id": "p2", "name": "Slim Jeans", "price_current": 59.9}""")
    if (withBroken) put("broken", "p9", """{"product_id": "p9", "name": NOT_JSON""")
    root
  }

  private def tree(root: String, opts: (String, String)*) = {
    val r = spark.read.format("product-tree").option("path", root)
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** The parity reference: S3's glob formulation — Spark's own
    * JSON reader over a glob, category from `input_file_name()`, brand a
    * literal — no connector code. */
  private def globTree(root: String) =
    spark.read.schema(ProductSources.rawProductSchema)
      .option("multiLine", "true")
      .json(s"$root/*/*/metadata.json")
      .withColumn("category", element_at(split(input_file_name(), "/"), -3))
      .withColumn("brand_name", lit("zara"))

  test("V2 scan matches the S3 glob reader row-for-row") {
    val root = writeTree()
    val v1 = globTree(root)
    val v2 = tree(root)
    assert(v2.schema == v1.schema)
    assert(ProductSources.readProductTree(spark, root).schema == v1.schema)
    assert(v2.exceptAll(v1).isEmpty && v1.exceptAll(v2).isEmpty)
    // path category overrides the embedded "WRONG" value, same as S3
    assert(tree(root).filter($"product_id" === "p1")
      .select("category").as[String].head() == "shirts")
  }

  test("category filters prune directories at planning time") {
    // the malformed doc sits in category 'broken'; failfast mode would
    // throw on open — filters must keep it from ever being listed/read
    val root = writeTree(withBroken = true)
    val df = tree(root, "mode" -> "failfast").filter($"category" === "shirts")
    assert(df.select("product_id").as[String].collect().sorted.toSeq == Seq("p1", "p3"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PrunedCategories: [shirts]"), plan)
    // IN-list pruning, conjunctive with equality
    val in = tree(root, "mode" -> "failfast")
      .filter($"category".isin("shirts", "jeans") && $"category" === "jeans")
    assert(in.select("product_id").as[String].collect().toSeq == Seq("p2"))
    assert(in.queryExecution.executedPlan.toString
      .contains("PrunedCategories: [jeans]"))
    // unpruned failfast read does hit the malformed doc — the guard is real
    intercept[org.apache.spark.SparkException] {
      tree(root, "mode" -> "failfast").select("name").collect()
    }
  }

  test("column pruning reaches the parser: derived-only reads never open files") {
    // with only path-derived columns required, the malformed doc is
    // listed but never parsed — failfast cannot throw
    val root = writeTree(withBroken = true)
    val counts = tree(root, "mode" -> "failfast")
      .groupBy("category").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("shirts" -> 2L, "jeans" -> 1L, "broken" -> 1L))
    val plan = tree(root).select("product_id", "name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<product_id:string,name:string>"), plan)
  }

  test("permissive mode: malformed docs yield null fields with path category kept") {
    val root = writeTree(withBroken = true)
    val r = tree(root).filter($"category" === "broken")
      .select($"product_id", $"name", $"brand_name")
    val row = r.collect().head
    assert(row.isNullAt(0) && row.isNullAt(1) && row.getString(2) == "zara")
  }

  test("nested composition round-trips; scan reports post-pruning statistics") {
    val root = writeTree()
    val comp = tree(root).filter($"product_id" === "p1")
      .selectExpr("composition_structured.parts[0].areas[0].components[0].material")
      .as[String].head()
    assert(comp == "linen")
    // post-pruning stats: the filtered relation's sizeInBytes is the two
    // shirts files, far below the full tree — the broadcast-join input
    val pruned = tree(root).filter($"category" === "shirts")
    val stats = pruned.queryExecution.optimizedPlan.stats
    val full = tree(root).queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < full.sizeInBytes,
      s"pruned=${stats.sizeInBytes} full=${full.sizeInBytes}")
  }
}
