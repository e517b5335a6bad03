package graft

import org.scalatest.funsuite.AnyFunSuite

/** The stall-healing decision table, pinned. The scenarios mirror the
  * real incidents the policy exists for: the r6 q83/q84 stall spanned
  * every sample (only the heavy+probe path can catch it), while a
  * mid-suite disturbance leaves one clean sample (the bimodal path
  * catches it without paying a probe).
  */
class HealPolicySpec extends AnyFunSuite {

  test("light flat line is never flagged") {
    assert(!HealPolicy.flagged(0.2, Seq(0.19, 0.2, 0.21)))
  }

  test("failed measures (sentinel -1, no samples) are never flagged") {
    assert(!HealPolicy.flagged(-1.0, Seq()))
    assert(!HealPolicy.flagged(0.5, Seq()))
  }

  test("r6-style stall spanning all samples: heavy, probe confirms") {
    val samples = Seq(4.1, 4.3, 4.4) // no clean sample left
    assert(HealPolicy.flagged(4.3, samples))
    assert(!HealPolicy.bimodal(4.3, samples)) // intra-run check is blind here
    assert(HealPolicy.probeConfirms(probe = 0.43, median = 4.3))
  }

  test("genuinely slow line: flagged heavy, but the probe refuses") {
    assert(HealPolicy.flagged(2.3, Seq(2.2, 2.3, 2.4)))
    assert(!HealPolicy.probeConfirms(probe = 2.2, median = 2.3))
  }

  test("mid-suite disturbance: bimodal catches it without a probe") {
    val samples = Seq(0.4, 2.0, 2.1) // one clean sample survived
    assert(HealPolicy.bimodal(2.0, samples))
    assert(HealPolicy.flagged(2.0, samples))
  }

  test("micro-query noise never reads as bimodal (0.3 s floor)") {
    assert(!HealPolicy.bimodal(0.09, Seq(0.02, 0.09, 0.1)))
  }

  test("heavy threshold boundary: 1.0 in, 0.99 out (flat samples)") {
    assert(HealPolicy.flagged(1.0, Seq(0.99, 1.0, 1.01)))
    assert(!HealPolicy.flagged(0.99, Seq(0.98, 0.99, 1.0)))
  }

  test("suspect requires the healed number >1.5x below the original") {
    assert(HealPolicy.suspect(orig = 4.3, healed = 0.43))
    assert(!HealPolicy.suspect(orig = 2.3, healed = 2.0)) // modest drift
  }

  // ---- cross-round regression probes (round 8) ----

  test("r7 q93 shape: 0.33 -> 0.73 flags cross-round, not heavy/bimodal") {
    val samples = Seq(0.71, 0.73, 0.74)
    assert(!HealPolicy.flagged(0.73, samples))
    assert(HealPolicy.regressed(0.73, prior = Some(0.33)))
  }

  test("r7 q134 shape: 0.95 -> 1.38 (1.45x) flags cross-round") {
    // this pair is WHY the ratio is 1.4 and not 1.5
    assert(HealPolicy.regressed(1.38, prior = Some(0.95)))
    assert(HealPolicy.flagged(1.38, Seq(1.35, 1.38, 1.4))) // heavy too
  }

  test("modest drift under 1.4x prior is not a regression") {
    assert(!HealPolicy.regressed(0.45, prior = Some(0.33)))
  }

  test("regression floor: micro-lines never flag vs prior") {
    // 0.05 -> 0.2 is 4x but under the 0.3 s floor — pure noise regime
    assert(!HealPolicy.regressed(0.2, prior = Some(0.05)))
  }

  test("no prior data (first round / foreign box) never flags") {
    assert(!HealPolicy.regressed(5.0, prior = None))
    assert(!HealPolicy.regressed(5.0, prior = Some(0.0))) // degenerate prior
  }

  test("failed sentinel never flags vs prior") {
    assert(!HealPolicy.regressed(-1.0, prior = Some(0.5)))
  }

  test("compact keys: bare number for qNN, full name for extras") {
    assert(HealPolicy.shortName("q144_mad_outliers") == "144")
    assert(HealPolicy.shortName("q05_group_summary") == "05")
    assert(HealPolicy.shortName("x132_pq_train") == "x132_pq_train")
    assert(HealPolicy.shortName("x10_ann_ivf256_index_build") ==
      "x10_ann_ivf256_index_build")
  }

  test("cs rung medians round-trip through decodeMedian (r9)") {
    // encode side is round(median*100) in Bench.renderFinal
    for (m <- Seq(0.12, 1.005, 2.74, 15.3, 0.0)) {
      val enc = math.round(m * 100).toDouble
      val dec = HealPolicy.decodeMedian(enc, Some("cs"))
      assert(math.abs(dec - m) <= 0.005, s"$m -> $enc -> $dec")
    }
    // seconds artifacts (no vf) pass through untouched
    assert(HealPolicy.decodeMedian(0.12, None) == 0.12)
    // 10 ms quantization stays far inside the 1.4x regression bar for
    // any line at/above the job floor (~0.10 s): worst-case relative
    // error at the floor is 0.005/0.10 = 5%
    assert(HealPolicy.decodeMedian(10.0, Some("cs")) == 0.1)
  }

  test("train keys fold to their qx short forms; canonKey meets both") {
    assert(HealPolicy.trainShortKey("x132_pq_train") == "x_pt")
    assert(HealPolicy.trainShortKey("x133_ivfpq_train") == "x_it")
    assert(HealPolicy.trainShortKey("x_ann_pq_index_build") ==
      "x_ann_pq_index_build")
    // cross-generation: a full-name artifact and a compact artifact's
    // short key canonicalize identically
    assert(HealPolicy.canonKey("x133_ivfpq_train") == HealPolicy.canonKey("x_it"))
    assert(HealPolicy.canonKey("x132_pq_train") == "x_pt")
    // zero padding never breaks a prior lookup
    assert(HealPolicy.canonKey("05") == "5")
  }

  test("r8 whole-suite-hot shape: per-line probes fire and CONFIRM, " +
      "nothing heals, floor_r announces the box (r9)") {
    // the r8 artifact: floor 0.110 -> 0.173 (1.57x), 17 code-untouched
    // lines read >= 1.4x their r7 medians. Per-line view of one of
    // them (q70-like, 0.45 prior, uniformly 0.68 now):
    val prior = Some(0.45)
    val samples = Seq(0.66, 0.68, 0.70)
    assert(HealPolicy.regressed(0.68, prior))    // the probe fires...
    assert(!HealPolicy.flagged(0.68, samples))   // (not heavy/bimodal)
    // ...but on the same hot box the probe reads ~the same: NOT
    // confirmed, no re-measure — the hot number stands, correctly
    assert(!HealPolicy.probeConfirms(probe = 0.65, median = 0.68))
    // the artifact-level signal is the floor ratio, not per-line heals
    val r = HealPolicy.floorRatio(floor = 0.173, priorFloor = Some(0.110))
    assert(r.exists(x => math.abs(x - 1.5727) < 1e-3))
    assert(HealPolicy.hotBox(r))
    // a normal sweep stays quiet
    assert(!HealPolicy.hotBox(HealPolicy.floorRatio(0.115, Some(0.110))))
    // COOLER box than prior: ratio < 1, never "hot"
    assert(!HealPolicy.hotBox(HealPolicy.floorRatio(0.08, Some(0.110))))
    // no prior artifact (first round / foreign box): no signal, no error
    assert(HealPolicy.floorRatio(0.173, None).isEmpty)
    assert(!HealPolicy.hotBox(None))
    // degenerate floors never divide by zero or flag
    assert(HealPolicy.floorRatio(0.173, Some(0.0)).isEmpty)
    assert(HealPolicy.floorRatio(-1.0, Some(0.110)).isEmpty)
  }

  test("r9 probe-miss mechanism: q52's confirmed 2.6x left zero trace " +
      "— 'regr' now names it (r10)") {
    // The r9 artifact: q52 0.34 -> 0.88 on a COOLER box (floor_r 0.73),
    // absent from the suspect list. Replay the decision chain:
    val prior = Some(0.34)
    val samples = Seq(0.86, 0.88, 0.91) // uniform — not bimodal
    // 1. the cross-round check DID fire (0.88 > 1.4 x 0.34)...
    assert(HealPolicy.regressed(0.88, prior))
    assert(!HealPolicy.flagged(0.88, samples)) // not heavy (<1s), not bimodal
    // 2. ...so a probe ran. Had it read < 0.88/1.5 = 0.587 the line
    // would have re-measured and healed; it did not — so the probe
    // necessarily read >= 0.587, i.e. the quiet window CONFIRMED the
    // number. No re-measure:
    assert(!HealPolicy.probeConfirms(probe = 0.85, median = 0.88))
    // 3. the r9 trace gap: "suspect" requires a heal 1.5x below the
    // original — impossible here; the confirmed regression vanished.
    assert(!HealPolicy.suspect(orig = 0.88, healed = 0.88))
    // 4. the r10 fix: the FINAL median still past the regression bar
    // is a confirmed regression — it rides the compact "regr" list
    // and the telemetry "regr" evidence map.
    assert(HealPolicy.confirmedRegression(0.88, prior))
    // a polluted window that healed back under the bar does NOT:
    assert(!HealPolicy.confirmedRegression(0.41, prior))
    // and with no prior there is nothing to confirm against:
    assert(!HealPolicy.confirmedRegression(0.88, None))
    // (r10 adjudication note: ONLY-mode A-B-A proved all five r9 drift
    // lines code-neutral — the r8 tree measures identically under the
    // same protocol — so the r9 readings were context, not code; the
    // machinery above exists so the artifact can say so by itself.)
  }

  test("arr rung: range spec round-trips with gaps, singletons, ends (r11)") {
    val keys = ((1L to 81L) ++ (83L to 203L)).toSeq
    val spec = HealPolicy.encodeRanges(keys)
    assert(spec == "1-81,83-203") // the real r10 surface (q82 gap)
    assert(HealPolicy.decodeRanges(spec) == keys)
    // singletons and mixed runs
    assert(HealPolicy.encodeRanges(Seq(5L)) == "5")
    assert(HealPolicy.encodeRanges(Seq(1L, 3L, 4L, 5L, 9L)) == "1,3-5,9")
    assert(HealPolicy.decodeRanges("1,3-5,9") == Seq(1L, 3L, 4L, 5L, 9L))
    assert(HealPolicy.decodeRanges("") == Seq.empty)
    assert(HealPolicy.encodeRanges(Seq.empty) == "")
  }

  test("arr rung payload: positional order, qx side object, collision " +
      "refusal (r11)") {
    // Bench feeds shortName'd keys in MEASUREMENT order — the payload
    // must sort numerically so the zip with decodeRanges aligns
    val keyed = Seq(("10", 123L), ("2", 45L), ("x132_pq_train", 119L),
      ("1", 9L), ("x133_ivfpq_train", 16L))
    val Some((qn, qv, qx)) = HealPolicy.arrPayload(keyed)
    assert(qn == "1-2,10")
    assert(qv == "[9,45,123]")
    assert(qx == "{\"x_pt\":119,\"x_it\":16}")
    // decode side reconstructs the exact key->median map
    val decoded = HealPolicy.decodeRanges(qn)
      .zip(Seq(9L, 45L, 123L))
      .map { case (n, v) =>
        HealPolicy.canonKey(n.toString) ->
          HealPolicy.decodeMedian(v.toDouble, Some("cs"))
      }.toMap
    assert(decoded == Map("1" -> 0.09, "2" -> 0.45, "10" -> 1.23))
    // a duplicate numeric key would desync the zip — rung declines
    assert(HealPolicy.arrPayload(Seq(("5", 1L), ("05", 2L))).isEmpty)
  }

  test("arr rung payload: toLong-unsafe keys ride qx, never throw " +
      "(r12, ADVICE)") {
    // "".forall(_.isDigit) is true, isDigit admits non-ASCII digits,
    // and 19 digits overflow Long — each used to reach k.toLong and
    // throw AFTER the full sweep; all must route to the qx side object
    val keyed = Seq(("3", 7L), ("", 1L), ("9999999999999999999", 2L),
      ("٠١", 3L)) // Arabic-Indic digits: isDigit-true
    val Some((qn, qv, qx)) = HealPolicy.arrPayload(keyed)
    assert(qn == "3")
    assert(qv == "[7]")
    // unparseable keys survive (shortKey'd) rather than kill the line
    assert(qx.contains(":1") && qx.contains(":2") && qx.contains(":3"))
    // an 18-digit key still parses — the boundary is inclusive
    val Some((qn2, _, _)) =
      HealPolicy.arrPayload(Seq(("999999999999999999", 4L)))
    assert(qn2 == "999999999999999999")
  }

  test("arr rung budget: the full compact line stays under 1750 chars " +
      "at a 215-query surface with lists intact (r11, VERDICT r10 #1)") {
    // 215 numeric lines (the ~r13 surface the headroom must cover) at
    // worst-typical cs widths: every value 3 digits (≥1 s medians are
    // rare — this over-counts), plus the two train keys at 4 digits
    val keyed = ((1L to 81L) ++ (83L to 216L)).map(n => (n.toString, 999L)) ++
      Seq(("x132_pq_train", 1234L), ("x133_ivfpq_train", 1634L))
    val Some((qn, qv, qx)) = HealPolicy.arrPayload(keyed)
    // full-width envelope: 6-entry suspect AND regr lists of 3-digit
    // keys, saturated regr_n, a real sf path
    val susp = Seq("115", "116", "117", "118", "119", "120")
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":${123.456}%.3f,"unit":"sec","floor":${0.128}%.3f,"floor_post":${0.013}%.3f,"floor_r":1.02,"kf":"arr","vf":"cs","suspect":$susp%s,"regr":$susp%s,"regr_n":14,"qn":"$qn%s","queries":$qv%s,"qx":$qx%s,"sf":"/root/testdata/sf0.1"}"""
    assert(line.length <= 1750,
      s"arr-rung line ${line.length} chars at the 215-query surface")
    // and the budget holds with generous growth: ~100 more queries
    // before 1900 (the next rung's trigger), at 4 chars/entry
    assert(line.length + 100 * 4 < 1900)
  }

  // ---- prior-median loading ----

  // An r14-shaped driver envelope: the full-name medians line (seconds)
  // merged with the compact line's kf/vf/qn/qx fields.
  private val r14Envelope =
    """{"n":14,"rc":0,"cpus":32,"sf":"sf0.1","tail":"...","parsed":{""" +
      """"metric":"total","value":113.211,"unit":"sec","floor":0.243,""" +
      """"floor_post":0.018,"floor_r":1.74,"rerun":{},"regr":["x132_pq_train"],""" +
      """"queries":{"q01_scan_region":0.098,"q05_group_summary":0.261,""" +
      """"q134_setsim_join":1.38,"x132_pq_train":1.191,"x133_ivfpq_train":1.634,""" +
      """"x10_q190_phash_incr":2.9,"x_ann_ivf_append":0.4},""" +
      """"sf":"/data/sf0.1","kf":"arr","vf":"cs","suspect":[],"regr_n":2,""" +
      """"qn":"1,5,134","qx":{"x_pt":119,"x_it":163}}}"""

  test("priorMedians reads a full-name seconds object whatever kf/vf say " +
      "(r14 envelope)") {
    val p = HealPolicy.priorMedians(r14Envelope)
    // every line of the object is a prior, in seconds (no cs scaling),
    // under the key Bench looks it up by
    def prior(name: String) = p.get(HealPolicy.canonKey(HealPolicy.shortName(name)))
    assert(prior("q01_scan_region").contains(0.098))
    assert(prior("q05_group_summary").contains(0.261))
    assert(prior("q134_setsim_join").contains(1.38))
    assert(prior("x132_pq_train").contains(1.191))
    assert(prior("x133_ivfpq_train").contains(1.634))
    assert(prior("x10_q190_phash_incr").contains(2.9))
    assert(prior("x_ann_ivf_append").contains(0.4))
    assert(p.size == 7)
    assert(HealPolicy.priorFloor(r14Envelope).contains(0.243))
    // so the r14 incident shape flags: x10_q190 ran 2.9x slower
    assert(HealPolicy.regressed(8.41, prior("x10_q190_phash_incr")))
  }

  test("priorMedians decodes a raw arr line: positional cs medians + qx") {
    val line = """{"metric":"total","floor":0.14,"kf":"arr","vf":"cs",""" +
      """"qn":"1-2,10","queries":[9,45,123],"qx":{"x_pt":119}}"""
    assert(HealPolicy.priorMedians(line) ==
      Map("1" -> 0.09, "2" -> 0.45, "10" -> 1.23, "x_pt" -> 1.19))
    // a qn/array length mismatch would misalign every later key: no
    // numeric priors, the side object survives
    val skewed = line.replace("1-2,10", "1-3,10")
    assert(HealPolicy.priorMedians(skewed) == Map("x_pt" -> 1.19))
    // unparsable input: no priors, never an error
    assert(HealPolicy.priorMedians("not json").isEmpty)
    assert(HealPolicy.priorFloor("not json").isEmpty)
  }
}
