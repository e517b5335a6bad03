package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** P7/P8 — curation write-path operators (curate.py:6719-6911 granular
  * field patch; curate.py:7239-7352 mark-curated transaction).
  *
  * tags_final is handled as an open-shaped JSON string (SURVEY §7.4 risk 3)
  * edited by pure functions inside a typed Dataset.map, then merged back
  * keyed on product_id — the Spark-first shape of the reference's
  * read-row/modify/update round trip. At scale the patch stream joins to
  * the products table on the key (broadcast if small) and the merge is one
  * keyed upsert; no driver-side loops.
  */
object Curation {

  val ArrayFields: Seq[String] =
    Seq("style_identity", "context", "construction_details", "pairing_tags")
  val SingleFields: Seq[String] = Seq(
    "silhouette", "pattern", "formality", "fit", "length", "shoe_type",
    "profile", "closure", "top_layer_role")

  final case class TagPatch(
      product_id: String,
      field_name: String,
      action: String, // add | remove | set
      value: Option[String],
      curator: String,
      feedback_reason: Option[String] = None,
      feedback_category: Option[String] = None)

  final case class PatchResult(
      product_id: String,
      tags_final: String,
      curation_status_refitd: String,
      removed_value: Option[String],
      unknown_field: Boolean)

  final case class FeedbackRow(
      product_id: String,
      field_name: String,
      removed_value: String,
      feedback_reason: Option[String],
      feedback_category: Option[String],
      curator: String)

  // ---- JSON plumbing (tolerant open shapes) ----

  private def parseObj(json: String): Map[String, Any] =
    try JsonMethods.parse(Option(json).filter(_.nonEmpty).getOrElse("{}")).values match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    } catch { case _: Exception => Map.empty }

  private def toJValue(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => toJValue(x)
    case m: Map[_, _] =>
      JObject(m.asInstanceOf[Map[String, Any]].toList.map { case (k, x) => k -> toJValue(x) })
    case s: Seq[_] => JArray(s.toList.map(toJValue))
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case bi: BigInt => JInt(bi)
    case d: Double => JDouble(d)
    case bd: BigDecimal => JDecimal(bd)
    case other => JString(other.toString)
  }

  private def render(m: Map[String, Any]): String =
    JsonMethods.compact(toJValue(m))

  // ---- P7: the pure patch function (curate.py:6786-6878) ----

  /** Apply one granular patch to a tags_final JSON document. Returns the
    * updated JSON, the removed value (for feedback), and an unknown-field
    * flag (the reference 400s on unknown fields). */
  def applyTagPatch(tagsFinalJson: String, p: TagPatch): PatchResult = {
    var tags = parseObj(tagsFinalJson)
    var removedValue: Option[String] = None
    Seq("deleted_tags", "added_tags", "modified_tags").foreach { k =>
      if (!tags.contains(k)) tags += k -> Map.empty[String, Any]
    }
    def mapAt(key: String) = tags(key).asInstanceOf[Map[String, Any]]
    def entryValue(e: Any): Option[String] = e match {
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].get("value").filter(_ != null).map(_.toString)
      case s: String => Some(s)
      case _ => None
    }

    if (ArrayFields.contains(p.field_name)) {
      var list = tags.get(p.field_name) match {
        case Some(l: Seq[_]) => l.map(_.toString)
        case _ => Seq.empty[String]
      }
      p.action match {
        case "add" =>
          p.value.foreach { v =>
            if (!list.contains(v)) {
              list = list :+ v
              if (p.feedback_reason.exists(_.nonEmpty)) {
                val added = mapAt("added_tags")
                val fieldList = added.get(p.field_name) match {
                  case Some(l: Seq[_]) => l
                  case _ => Seq.empty[Any]
                }
                tags += "added_tags" -> (added + (p.field_name -> (fieldList :+ Map(
                  "value" -> v, "reason" -> p.feedback_reason.get,
                  "curator" -> p.curator))))
              }
            }
            // re-add cleanup (curate.py:6811-6819)
            val deleted = mapAt("deleted_tags")
            deleted.get(p.field_name).foreach { dl =>
              val cleaned = (dl match {
                case l: Seq[_] => l
                case other => Seq(other)
              }).filterNot(e => entryValue(e).contains(v))
              tags += "deleted_tags" -> (deleted + (p.field_name -> cleaned))
            }
          }
        case "remove" =>
          removedValue = p.value
          p.value.foreach { v =>
            list = list.filterNot(_ == v)
            val deleted = mapAt("deleted_tags")
            val fieldList = deleted.get(p.field_name) match {
              case Some(l: Seq[_]) => l.asInstanceOf[Seq[Any]]
              case _ => Seq.empty[Any]
            }
            if (!fieldList.exists(e => entryValue(e).contains(v))) {
              tags += "deleted_tags" -> (deleted + (p.field_name -> (fieldList :+ Map(
                "value" -> v, "reason" -> p.feedback_reason.orNull,
                "category" -> p.feedback_category.orNull,
                "curator" -> p.curator))))
            }
          }
        case "set" =>
          list = p.value.toSeq
        case _ => ()
      }
      tags += p.field_name -> list
      PatchResult(p.product_id, render(tags), "approved", removedValue, unknown_field = false)

    } else if (SingleFields.contains(p.field_name)) {
      if (p.action == "remove" || p.value.forall(_.isEmpty)) {
        removedValue = tags.get(p.field_name).filter(_ != null).map(_.toString)
        removedValue.foreach { rv =>
          tags += "deleted_tags" -> (mapAt("deleted_tags") + (p.field_name -> Map(
            "value" -> rv, "reason" -> p.feedback_reason.orNull,
            "category" -> p.feedback_category.orNull, "curator" -> p.curator)))
        }
        tags += p.field_name -> null
      } else {
        val prev = tags.get(p.field_name).filter(_ != null).map(_.toString)
        val v = p.value.get
        if (prev.exists(_ != v) && p.feedback_reason.exists(_.nonEmpty)) {
          tags += "modified_tags" -> (mapAt("modified_tags") + (p.field_name -> Map(
            "from" -> prev.get, "to" -> v, "reason" -> p.feedback_reason.get,
            "curator" -> p.curator)))
        }
        tags += "deleted_tags" -> (mapAt("deleted_tags") - p.field_name)
        tags += p.field_name -> v
      }
      PatchResult(p.product_id, render(tags), "approved", removedValue, unknown_field = false)

    } else PatchResult(p.product_id, tagsFinalJson, "approved", None, unknown_field = true)
  }

  /** One patched row + its optional feedback event — the single-pass
    * output both downstream sinks derive from. */
  final case class PatchOutcome(result: PatchResult, feedback: Option[FeedbackRow])

  /** P7 distributed: patches join products on the key and each
    * (patch ⋈ product) row is patched ONCE, carrying both the result and
    * the feedback event (one patch per product per call; the reference is
    * one HTTP call per patch). Multi-sink consumers
    * should materialize this once (localCheckpoint) before fanning out —
    * deriving two Datasets from the un-materialized map re-executes the
    * patch per sink. */
  def patchTagsCombined(products: DataFrame,
                        patches: Dataset[TagPatch]): Dataset[PatchOutcome] = {
    import patches.sparkSession.implicits._
    patches.toDF()
      .join(products.select(col("product_id").cast("string"),
        col("tags_final").cast("string")), Seq("product_id"), "inner")
      .as[(String, String, String, Option[String], String,
        Option[String], Option[String], String)]
      .map { case (pid, field, action, value, curator, reason, cat, tagsJson) =>
        val r = applyTagPatch(tagsJson,
          TagPatch(pid, field, action, value, curator, reason, cat))
        val fb = r.removed_value.filter(_ => reason.isDefined || cat.isDefined)
          .map(rv => FeedbackRow(pid, field, rv, reason, cat, curator))
        PatchOutcome(r, fb)
      }
  }

  // ---- P8: mark-curated multi-sink (curate.py:7239-7352) ----

  /** Change summary derived from the feedback maps inside tags_final
    * (X16 twin over curate-side shapes). */
  def feedbackChangeSummary(tagsFinalJson: String): String = {
    val tags = parseObj(tagsFinalJson)
    def mapOf(k: String) = tags.get(k) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    def values(v: Any): Seq[String] = v match {
      case l: Seq[_] => l.flatMap {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          .get("value").filter(_ != null).map(_.toString)
        case s: String => Some(s)
        case _ => None
      }
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        .get("value").filter(_ != null).map(_.toString).toSeq
      case _ => Nil
    }
    val added = mapOf("added_tags").toSeq.sortBy(_._1)
      .flatMap { case (f, v) => values(v).map(x => s"$f:$x") }
    val removed = mapOf("deleted_tags").toSeq.sortBy(_._1)
      .flatMap { case (f, v) => values(v).map(x => s"$f:$x") }
    val modified = mapOf("modified_tags").toSeq.sortBy(_._1).flatMap { case (f, v) =>
      v match {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          for (from <- mm.get("from"); to <- mm.get("to"))
            yield s"$f: $from → $to"
        case _ => None
      }
    }
    Seq(
      if (added.nonEmpty) Some("Added: " + added.mkString(", ")) else None,
      if (removed.nonEmpty) Some("Removed: " + removed.mkString(", ")) else None,
      if (modified.nonEmpty) Some("Modified: " + modified.mkString(", ")) else None)
      .flatten.mkString("; ")
  }

  final case class CurationOutputs(
      statusUpsert: DataFrame, // → curation_status (S5 upsert on product_id)
      productStamps: DataFrame, // → products (S6 keyed update)
      historyAppend: DataFrame) // → curation_history (S7 append)

  /** P8 — one source DF (product_id, tags_final, original_ai_tags JSON)
    * fans out to the three curation sinks as pure transformations; callers
    * write them with upsert/append (the reference's three HTTP writes,
    * curate.py:7239-7352). */
  def markCurated(products: DataFrame, curatedBy: String, asOf: String,
                  curationVersion: String = "v1"): CurationOutputs = {
    // one json4s parse per row; a pure-column form re-parsed tags_final
    // ~30× per row (Catalyst does not CSE get_json_object/from_json) and
    // benched 7× slower on the q49 pipeline (BASELINE.md). JSON here is
    // open-shaped by reference contract (SURVEY §2.12)
    val summaryUdf = udf(feedbackChangeSummary _)
    val base = products.select(
      col("product_id").cast("string"),
      col("tags_final").cast("string"),
      coalesce(col("original_ai_tags"), lit("{}")).cast("string").as("original_ai_tags"))
      .withColumn("change_summary",
        summaryUdf(col("tags_final")))
    CurationOutputs(
      statusUpsert = base.select(
        col("product_id"),
        lit("curated").as("status"),
        lit(curatedBy).as("curated_by"),
        lit(asOf).cast("timestamp").as("curated_at")),
      productStamps = base.select(
        col("product_id"),
        lit(asOf).cast("timestamp").as("curated_at"),
        lit(curatedBy).as("curated_by"),
        lit(curationVersion).as("curation_version"),
        lit(true).as("training_eligible")),
      historyAppend = base.select(
        col("product_id"),
        col("original_ai_tags").as("original_ai_tags"),
        col("tags_final").as("corrected_tags"),
        col("change_summary"),
        lit(curatedBy).as("curator"),
        lit(asOf).cast("timestamp").as("created_at")))
  }
}
