package graft.etl

import graft.SparkSpec
import graft.etl.Curation._
import org.json4s.jackson.JsonMethods

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def parse(json: String) =
    JsonMethods.parse(json).values.asInstanceOf[Map[String, Any]]

  private val tagsJson =
    """{"category": "bottom", "style_identity": ["workwear", "rugged"],
       "fit": "slim", "formality": "casual"}"""

  test("P7 array remove: value dropped, deletion tracked with context") {
    val r = applyTagPatch(tagsJson, TagPatch("p1", "style_identity", "remove",
      Some("rugged"), "tess", Some("not rugged"), Some("incorrect_value")))
    val t = parse(r.tags_final)
    assert(t("style_identity") == Seq("workwear"))
    val del = t("deleted_tags").asInstanceOf[Map[String, Any]]("style_identity")
      .asInstanceOf[Seq[Map[String, Any]]]
    assert(del.head("value") == "rugged" && del.head("reason") == "not rugged")
    assert(r.removed_value.contains("rugged"))
    assert(r.curation_status_refitd == "approved")
    // removing again: no duplicate deletion entry (curate.py:6834-6841)
    val r2 = applyTagPatch(r.tags_final, TagPatch("p1", "style_identity", "remove",
      Some("rugged"), "tess", None, None))
    val del2 = parse(r2.tags_final)("deleted_tags").asInstanceOf[Map[String, Any]]("style_identity")
      .asInstanceOf[Seq[Map[String, Any]]]
    assert(del2.size == 1)
  }

  test("P7 array add: appended if absent, re-add cleans deleted_tags") {
    val removed = applyTagPatch(tagsJson, TagPatch("p1", "style_identity", "remove",
      Some("rugged"), "tess", Some("nope"), None))
    val readded = applyTagPatch(removed.tags_final,
      TagPatch("p1", "style_identity", "add", Some("rugged"), "tess", Some("actually yes"), None))
    val t = parse(readded.tags_final)
    assert(t("style_identity") == Seq("workwear", "rugged"))
    assert(t("deleted_tags").asInstanceOf[Map[String, Any]]("style_identity")
      .asInstanceOf[Seq[_]].isEmpty) // re-add cleanup
    val added = t("added_tags").asInstanceOf[Map[String, Any]]("style_identity")
      .asInstanceOf[Seq[Map[String, Any]]]
    assert(added.head("value") == "rugged")
    // adding an existing value is a no-op on the list
    val again = applyTagPatch(readded.tags_final,
      TagPatch("p1", "style_identity", "add", Some("rugged"), "tess", None, None))
    assert(parse(again.tags_final)("style_identity") == Seq("workwear", "rugged"))
  }

  test("P7 scalar set: modification tracked with from/to, deleted cleared") {
    val r = applyTagPatch(tagsJson, TagPatch("p1", "fit", "set",
      Some("relaxed"), "tess", Some("runs small"), None))
    val t = parse(r.tags_final)
    assert(t("fit") == "relaxed")
    val mod = t("modified_tags").asInstanceOf[Map[String, Any]]("fit")
      .asInstanceOf[Map[String, Any]]
    assert(mod("from") == "slim" && mod("to") == "relaxed" && mod("reason") == "runs small")
  }

  test("P7 scalar remove: nulls the field, tracks deletion") {
    val r = applyTagPatch(tagsJson, TagPatch("p1", "fit", "remove", None, "tess", None, None))
    val t = parse(r.tags_final)
    assert(t("fit") == null)
    assert(t("deleted_tags").asInstanceOf[Map[String, Any]]("fit")
      .asInstanceOf[Map[String, Any]]("value") == "slim")
    assert(r.removed_value.contains("slim"))
  }

  test("P7 unknown field flagged (reference 400s)") {
    assert(applyTagPatch(tagsJson,
      TagPatch("p1", "vibe", "set", Some("x"), "t", None, None)).unknown_field)
  }

  test("P7 distributed: patches join products, feedback rows emitted") {
    val products = Seq(("p1", tagsJson), ("p2", """{"category": "top"}"""))
      .toDF("product_id", "tags_final")
    val patches = Seq(
      TagPatch("p1", "style_identity", "remove", Some("rugged"), "tess",
        Some("not rugged"), Some("incorrect_value")),
      TagPatch("p2", "context", "add", Some("everyday"), "sam", None, None)).toDS()
    val outcomes = Curation.patchTagsCombined(products, patches).collect()
    val byId = outcomes.map(o => o.result.product_id -> o.result).toMap
    assert(parse(byId("p1").tags_final)("style_identity") == Seq("workwear"))
    assert(parse(byId("p2").tags_final)("context") == Seq("everyday"))
    val fb = outcomes.flatMap(_.feedback)
    assert(fb.length == 1 && fb.head.removed_value == "rugged")
  }

  test("P8 mark-curated: three sink outputs from one source") {
    val patched = applyTagPatch(tagsJson, TagPatch("p1", "fit", "set",
      Some("relaxed"), "tess", Some("runs small"), None))
    val products = Seq(("p1", patched.tags_final, """{"fit": "slim"}"""))
      .toDF("product_id", "tags_final", "original_ai_tags")
    val out = Curation.markCurated(products, "tess", "2026-02-27 00:00:00")
    assert(out.statusUpsert.select("status").as[String].head() == "curated")
    val stamp = out.productStamps.collect().head
    assert(stamp.getAs[String]("curated_by") == "tess")
    assert(stamp.getAs[Boolean]("training_eligible"))
    val hist = out.historyAppend.collect().head
    assert(hist.getAs[String]("change_summary") == "Modified: fit: slim → relaxed")
    assert(hist.getAs[String]("curator") == "tess")
  }

  test("feedbackChangeSummary: all three sections, sorted fields") {
    val j =
      """{"added_tags": {"context": [{"value": "everyday", "curator": "t"}]},
         "deleted_tags": {"style_identity": [{"value": "rugged"}], "fit": {"value": "slim"}},
         "modified_tags": {"formality": {"from": "casual", "to": "formal"}}}"""
    assert(Curation.feedbackChangeSummary(j) ==
      "Added: context:everyday; Removed: fit:slim, style_identity:rugged; " +
        "Modified: formality: casual → formal")
  }
}
