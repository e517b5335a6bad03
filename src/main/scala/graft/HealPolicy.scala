package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pure decision rules for [[Bench]]'s post-suite stall healing
  * (round 7) — extracted so the policy is unit-testable without a
  * SparkSession. The flow per measured line, at suite end:
  *
  *   1. [[flagged]]: is the line worth a look? Heavy (median >= 1 s —
  *      the expensive tail is short, so probing it is cheap) or
  *      intra-run bimodal (median > 3x its own minimum sample, with a
  *      0.3 s floor so micro-queries never qualify on noise). Round 8
  *      adds [[regressed]]: >1.4x the previous round's compact-line
  *      median for the same key — the signal that would have caught
  *      both r7 regressions that sat under the other two checks.
  *   2. Bimodal lines re-measure directly (the clean minimum is
  *      already evidence). Heavy lines get ONE probe run first;
  *      [[probeConfirms]] says whether the probe (median/1.5 or
  *      better) justifies a full re-measure.
  *   3. The SMALLER median wins — an external stall only inflates, so
  *      min is safe; a genuinely slow query re-measures the same and
  *      keeps its number.
  *   4. [[suspect]]: when the healed number is >1.5x below the
  *      original, the original window was polluted — the name goes in
  *      the compact line's "suspect" list and the telemetry line's
  *      "rerun" map keeps the before/after pair.
  *
  * Why a median alone cannot self-clear: a box stall spanning all 3
  * samples (the r6 artifact's q83/q84, 4.3-4.4 s vs clean 0.4-1.0)
  * leaves no clean sample to vote it down. The probe runs in the
  * post-suite window, which is the quietest point of the run.
  */
object HealPolicy {

  val HeavySec = 1.0
  val BimodalRatio = 3.0
  val BimodalFloorSec = 0.3
  val ConfirmRatio = 1.5
  // 1.4, not the 1.5 of ConfirmRatio: r7's q134 regression was 0.95 ->
  // 1.38 = 1.45x — a 1.5x gate would have missed the very incident this
  // check exists for. The cost of the lower bar is one extra probe run
  // per falsely-flagged line, bounded by the 0.3 s floor.
  val RegressRatio = 1.4
  val RegressFloorSec = 0.3

  /** Intra-run bimodality: the median sits far above the line's own
    * best sample — a mid-measure disturbance. */
  def bimodal(median: Double, samples: Seq[Double]): Boolean =
    samples.nonEmpty &&
      median > BimodalRatio * samples.min && median >= BimodalFloorSec

  /** Heavy lines are always worth one probe: a stall spanning every
    * sample is invisible to intra-run checks. */
  def heavy(median: Double): Boolean = median >= HeavySec

  def flagged(median: Double, samples: Seq[Double]): Boolean =
    median >= 0 && samples.nonEmpty &&
      (bimodal(median, samples) || heavy(median))

  /** Cross-round regression (round 8 — the r7 blind spot): both r7
    * regressions (q93 0.33→0.73, q134 0.95→1.38) sat under the 1 s
    * heavy threshold and were not intra-run bimodal, so healing never
    * probed them — yet the prior round's median was right there. A
    * line whose new median exceeds [[RegressRatio]]× its prior-round
    * median (and the [[RegressFloorSec]] floor, so micro-lines never
    * flag on noise) gets the same probe-then-re-measure treatment as
    * heavy lines. A genuine regression probes at the new number and
    * keeps it; a polluted window probes low and heals. */
  def regressed(median: Double, prior: Option[Double]): Boolean =
    median >= RegressFloorSec &&
      prior.exists(p => p > 0 && median > RegressRatio * p)

  /** After the probe run: re-measure in full only when the probe lands
    * clearly under the recorded median (stalls only inflate). */
  def probeConfirms(probe: Double, median: Double): Boolean =
    probe < median / ConfirmRatio

  /** The healed number is far enough below the original that the
    * original window was polluted — record the name as suspect. */
  def suspect(orig: Double, healed: Double): Boolean =
    healed < orig / ConfirmRatio

  /** r10 (r9 VERDICT what's-wrong #2): the probe-miss mechanism. A
    * cross-round-[[regressed]] line whose probe lands HIGH (>= median /
    * [[ConfirmRatio]]) never re-measures — and the r9 pipeline then
    * left ZERO trace of it: no re-measure means no "rerun" entry, and
    * "suspect" requires a heal that never happened. That is exactly how
    * q52's 2.6x (0.34 -> 0.88; its probe necessarily read >= 0.59 or
    * it would have healed) escaped the artifact's suspect list — that
    * list only names POLLUTED windows, never confirmed regressions.
    * (r10 A-B-A adjudication: all five r9 drift lines proved
    * code-neutral — the r8 tree measures identically under the same
    * protocol — but the artifact could not say so on its own.)
    *
    * The fix: after healing has had every chance to clear a line, a
    * final median that is STILL past the regression bar is a CONFIRMED
    * regression — healing only lowers medians, so surviving the probe /
    * re-measure gauntlet above the bar is evidence, not absence of it.
    * Bench now carries these names in the compact line's "regr" list
    * and their [prior, orig, probe, final] evidence in the telemetry
    * line's "regr" map — one of the two lists (suspect = window
    * polluted, regr = regression real) names every cross-round drift. */
  def confirmedRegression(finalMedian: Double, prior: Option[Double]): Boolean =
    regressed(finalMedian, prior)

  // r9 (r8 VERDICT what's-wrong #3): per-line healing cannot fix a
  // UNIFORMLY hot box — every line reads ~ratio hot, the cross-round
  // probes fire, re-measure at the same hot number, and the artifact
  // looks like broad regression (the r8 sweep: floor 0.173 vs r7's
  // 0.110 = 1.57x, 17 code-untouched lines >= 1.4x their r7 medians).
  // The compact line therefore self-identifies: it carries the
  // pre-suite floor's ratio to the PRIOR artifact's floor as
  // "floor_r". At or above HotFloorRatio the whole-sweep numbers are
  // box-inflated — read them against min-of-pass closings, not
  // line-to-line vs the prior round. Same 1.4 as RegressRatio: a
  // floor shift big enough to mass-trigger the per-line probes is
  // exactly the shift the artifact must announce.
  val HotFloorRatio = 1.4

  /** This sweep's floor over the prior artifact's floor; None when no
    * prior floor is available (first round, foreign box). */
  def floorRatio(floor: Double, priorFloor: Option[Double]): Option[Double] =
    priorFloor.collect { case p if p > 0 && floor > 0 => floor / p }

  /** Whole-suite-hot: the sweep's own job floor moved, so per-line
    * flags are expected to fire broadly AND their probes to confirm
    * (the probe runs on the same hot box — nothing heals). */
  def hotBox(ratio: Option[Double]): Boolean =
    ratio.exists(_ >= HotFloorRatio)

  /** Compact-line key for a measured line: qNN names shorten to the
    * bare number (the compact map's own keys); extras keep their
    * full name. */
  def shortName(n: String): String =
    if (n.startsWith("q")) n.takeWhile(_ != '_').drop(1) else n

  /** The two ANN train-line keys, folded for the compact line's "qx"
    * side object ("x132_pq_train" -> "x_pt"). [[canonKey]] folds the
    * full names too, so full-name and compact artifacts meet. */
  def trainShortKey(k: String): String = k match {
    case "x132_pq_train" => "x_pt"
    case "x133_ivfpq_train" => "x_it"
    case _ => k
  }

  /** Canonical match key for cross-round lookups: numeric keys lose
    * their zero padding ("05" from a full name and "5" from the range
    * spec must meet), the train keys fold to their short forms,
    * everything else passes through. */
  def canonKey(k: String): String =
    if (k.nonEmpty && k.forall(_.isDigit)) k.toLong.toString
    else trainShortKey(k)

  /** Decode a compact-artifact median back to seconds, given the
    * artifact's declared value format — "cs" (centisecond INTEGERS,
    * ~2 chars shorter per entry) or absent/seconds. The encode side is
    * `round(median·100)` in Bench.renderFinal; 10 ms resolution is well
    * inside the 1.4× regression-probe bar. */
  def decodeMedian(v: Double, valueFormat: Option[String]): Double =
    valueFormat match {
      case Some("cs") => v / 100.0
      case _ => v
    }

  /** r14 rung ("kf":"arr", VERDICT r10 #1): per-entry KEYS leave the
    * compact line entirely. The numeric base keys are consecutive
    * query numbers with rare gaps (q82), so the whole key set encodes
    * ONCE as a range spec ("qn":"1-81,83-203", ~12 chars) and the
    * medians ride a positional array in ascending-key order — saving
    * the `"xx":` prefix (~5 chars) on every one of 200+ entries
    * (measured: 1889 → ~1000 chars at the r10 surface). The few
    * non-numeric base keys (the two ANN train lines) ride a small
    * side object ("qx") at their [[trainShortKey]] forms.
    *
    * [[encodeRanges]] expects a sorted, distinct key list (Bench sorts
    * before calling); [[decodeRanges]] expands any spec back. */
  def encodeRanges(nums: Seq[Long]): String = {
    val runs = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    nums.foreach { n =>
      runs.lastOption match {
        case Some((lo, hi)) if n == hi + 1 =>
          runs.update(runs.length - 1, (lo, n))
        case _ => runs += ((n, n))
      }
    }
    runs.map { case (lo, hi) => if (lo == hi) s"$lo" else s"$lo-$hi" }
      .mkString(",")
  }

  def decodeRanges(spec: String): Seq[Long] =
    if (spec.isEmpty) Seq.empty
    else spec.split(",").toSeq.flatMap { run =>
      run.split("-") match {
        case Array(one) => Seq(one.toLong)
        case Array(lo, hi) => lo.toLong to hi.toLong
        case _ => Seq.empty
      }
    }

  /** The arr rung's three payload fields from (shortKey, centisecond)
    * pairs: the range spec, the positional value array (ascending-key
    * order), and the non-numeric side object (keys at their
    * [[trainShortKey]] forms). None when two numeric keys collide —
    * a positional zip would silently desync (never happens: base
    * query names are unique qNN_*, but the rung declines rather than
    * corrupt). Pure so the spec can pin the line budget against the
    * real encode path. */
  def arrPayload(keyed: Seq[(String, Long)]): Option[(String, String, String)] = {
    // strictly-ASCII, non-empty, toLong-safe keys only (r12, ADVICE):
    // "".forall(_.isDigit) is TRUE, and isDigit admits non-ASCII
    // digits / >18-digit keys — all of which would throw in the
    // k.toLong below AFTER the full sweep, losing the final line.
    // Anything unparseable rides the qx side object instead.
    def longSafeDigits(k: String): Boolean =
      k.nonEmpty && k.length <= 18 && k.forall(c => c >= '0' && c <= '9')
    val (numKeyed, extraKeyed) = keyed.partition(p => longSafeDigits(p._1))
    val nums = numKeyed.map { case (k, v) => (k.toLong, v) }.sortBy(_._1)
    if (nums.map(_._1).distinct.size != nums.size) return None
    val qn = encodeRanges(nums.map(_._1))
    val qv = nums.map(_._2).mkString("[", ",", "]")
    val qx = extraKeyed
      .map { case (k, v) => "\"" + trainShortKey(k) + "\":" + v }
      .mkString("{", ",", "}")
    Some((qn, qv, qx))
  }

  /** The bench line inside a driver BENCH_rNN.json envelope
    * ({"parsed":{...}}), or the raw line itself. */
  private def benchLine(json: String): JValue = {
    val root = JsonMethods.parse(json)
    if ((root \ "parsed") != JNothing) root \ "parsed" else root
  }

  private def num(j: JValue): Option[Double] = j match {
    case JDouble(v) => Some(v)
    case JInt(v) => Some(v.toDouble)
    case JDecimal(v) => Some(v.toDouble)
    case _ => None
  }

  /** The prior round's medians in seconds, by [[canonKey]] of their
    * [[shortName]]. A `queries` OBJECT is full-name seconds whatever
    * "kf"/"vf" say: the driver's r13+ envelopes merge the full-name
    * medians line with the compact line's "kf":"arr","vf":"cs" fields,
    * and reading that object as an arr array kept no base priors at
    * all. A `queries` ARRAY is the compact arr line: positional medians
    * in the "vf" format, keyed by the "qn" range spec, plus the "qx"
    * side object. Unparsable input yields no priors, never an error. */
  def priorMedians(json: String): Map[String, Double] = try {
    val line = benchLine(json)
    val vf = line \ "vf" match {
      case JString(s) => Some(s)
      case _ => None
    }
    line \ "queries" match {
      case JObject(kvs) =>
        kvs.flatMap { case (k, j) => num(j).map(canonKey(shortName(k)) -> _) }.toMap
      case JArray(vs) =>
        // positional decode is alignment-critical (r12, ADVICE): one
        // non-numeric entry or a qn/array length mismatch would shift
        // every later median onto the wrong key — either yields no
        // numeric priors instead
        val vals = vs.map(num)
        val names = line \ "qn" match {
          case JString(spec) => decodeRanges(spec)
          case _ => Seq.empty
        }
        val numeric =
          if (vals.forall(_.isDefined) && names.length == vals.length)
            names.zip(vals.flatten).map { case (n, v) => n.toString -> decodeMedian(v, vf) }
          else Nil
        val extras = line \ "qx" match {
          case JObject(kvs) =>
            kvs.flatMap { case (k, j) => num(j).map(v => canonKey(k) -> decodeMedian(v, vf)) }
          case _ => Nil
        }
        (numeric ++ extras).toMap
      case _ => Map.empty
    }
  } catch { case _: Exception => Map.empty }

  /** The prior round's pre-suite job floor, when the line carries one. */
  def priorFloor(json: String): Option[Double] =
    try num(benchLine(json) \ "floor") catch { case _: Exception => None }
}
