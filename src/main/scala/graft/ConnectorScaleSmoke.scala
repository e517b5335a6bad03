package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Scale smoke for the V2 landing-zone connector (ProductTreeSource):
  * builds a synthetic tree of `nCats × perCat` metadata documents, then
  * times the three read shapes whose relative costs ARE the connector's
  * scale argument:
  *
  *   1. derived-only (count per category): required columns are all
  *      path-derived, so no file is ever opened — cost is listing only;
  *   2. one-category filtered aggregate: planning-time directory pruning
  *      — listing and parsing are both 1/nCats of the tree;
  *   3. full-tree aggregate: the upper bound (every file opened).
  *
  * Usage: tools/run_class.sh graft.ConnectorScaleSmoke [nCats] [perCat]
  * Prints one JSON line; numbers recorded in BASELINE.md.
  */
object ConnectorScaleSmoke {

  def main(args: Array[String]): Unit = {
    val nCats = args.headOption.map(_.toInt).getOrElse(100)
    val perCat = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))

    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_connector_smoke_${nCats}x$perCat")
    if (!Files.exists(root)) {
      var i = 0
      while (i < nCats) {
        var j = 0
        while (j < perCat) {
          val dir = root.resolve(s"cat$i").resolve(s"p${i}_$j")
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("metadata.json"),
            s"""{"product_id": "P${i}_$j", "name": "item $i $j", "price_current": ${j % 90 + 10}.0}""")
          j += 1
        }
        i += 1
      }
    }

    def tree = spark.read.format("product-tree")
      .option("path", root.toString).load()

    // 1. derived-only: global count — never opens a file (same aggregate
    // shape as 3, so the delta to 3 is pure parse cost)
    val tDerived = Meter.median {
      tree.agg(count(lit(1))).collect()
    }
    // 2. pruned: one category of nCats — lists/parses 1/nCats of the tree
    val tPruned = Meter.median {
      tree.filter(col("category") === "cat0")
        .agg(sum("price_current"), count(lit(1))).collect()
    }
    // 3. full parse: every document opened and converted
    val tFull = Meter.median {
      tree.agg(sum("price_current"), count(lit(1))).collect()
    }
    val nDocs = tree.count()
    require(nDocs == nCats.toLong * perCat, s"expected ${nCats * perCat}, got $nDocs")

    println(
      s"""{"metric":"connector_smoke","n_cats":$nCats,"per_cat":$perCat,"n_docs":$nDocs,""" +
        s""""derived_only_sec":$tDerived,"pruned_one_cat_sec":$tPruned,"full_parse_sec":$tFull}""")
    spark.stop()
  }
}
