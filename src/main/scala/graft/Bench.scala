package graft
import org.apache.spark.sql.SparkSession

/** End-of-round benchmark. Prints ONE JSON line (the driver's contract) and
  * ALSO writes the same line to a file, then arbitrates its own outliers:
  * two rounds running (r6, r7) the recorded artifact misrepresented
  * unchanged code — r6 recorded 131.8 s where a clean box measured 57.6 s,
  * r7's capture was truncated mid-stream losing the total — and the
  * embedded load-average witness failed to classify either. So the
  * artifact now defends itself:
  *
  *   - the full JSON goes to `bench_out.json` (env SPARK_GRAFT_BENCH_OUT)
  *     as well as stdout, so a truncated log capture can never lose the
  *     tail again;
  *   - the PRIMARY protocol is min-of-2 interleaved passes: the whole
  *     query list runs twice end-to-end and each query's reading is the
  *     minimum of its two sweeps. Every r18 bench — including ones run
  *     minutes after fresh bands — stamped suspect_contamination, i.e.
  *     first readings carry a systematic one-sided inflation (JIT +
  *     page-cache warmth that a single sweep cannot amortize); the min of
  *     two temporally-separated sweeps removes most of it BEFORE
  *     arbitration, and the per-query pass1/pass2 pair is itself the
  *     noise-model instrument ("first_read" summary in the artifact);
  *   - every min-of-2 reading is checked against its recorded clean band
  *     (`bench_bands.json`, env SPARK_GRAFT_BANDS); any reading above
  *     2× band — UNCONDITIONALLY, no absolute floor: the old
  *     band+0.75 s term could never fire for sub-0.75 s bands, which is
  *     most of the registry, and a >2× escape shipped three rounds
  *     running — is re-measured with 3 further reps in-process and
  *     classified: min(reps) back inside the threshold ⇒ the reading
  *     was environment noise ("contaminated"), still outside ⇒ a genuine
  *     slowdown ("regression"). Both readings are embedded under
  *     "arbitrated", with a top-level "suspect_contamination" flag. At
  *     most 16 suspects (worst first/band ratios) are re-measured — on a
  *     fully-contaminated run the reps are contaminated too, so beyond
  *     that the remaining names are listed under "unarbitrated_suspects".
  *     Additionally the top-6 first/band ratios are arbitrated
  *     UNCONDITIONALLY (verdicts "inflated"/"clean"); and any query
  *     ≥1.35× its PREVIOUS round's effective time (BENCH_r*.json
  *     auto-discovered, or env SPARK_GRAFT_PREV_BENCH) is arbitrated
  *     under the "round_over_round" trigger — a genuine rise that
  *     survives the reps is verdict "slower_than_prev" (surfaced, never
  *     subtracted). "suspect_contamination" stamps true only when the
  *     run exceeds the modeled warmth band (median pass1/pass2 > 1.15)
  *     or a band arbitration lands "contaminated" — a flag that never
  *     read false carried no signal;
  *   - per-query shuffle-write bytes are recorded ("shuffle_bytes") and
  *     the five prepared-layout plans are byte-checked against their
  *     cold twins ("shuffle_checks") — a lost prepared layout or
  *     broadcast shows up as a byte regression at sf0.1 without anyone
  *     reading plans;
  *   - the headline `corrected_total_sec` (raw total minus the
  *     contaminated deltas) is the number to quote, and `commit` stamps
  *     which code state was measured.
  *
  * The bands are measurements, not goals: re-record them (one clean warm
  * Bench run) whenever queries are added or made faster, and keep the file
  * at sf0.1 — on any other sf dir arbitration is skipped
  * ("bands_sf_mismatch") rather than misapplied.
  */
object Bench {

  /** Per-run shuffle-write + spill accounting: a SparkListener summing
    * stage-level shuffle bytes written and disk spill. The plan pins live
    * in PlanAuditSpec at sf0.01; recording shuffle BYTES per query in the
    * bench artifact catches a plan regression (a lost broadcast, a dead
    * prepared layout) at sf0.1 without a human reading plans. Listener
    * events are delivered asynchronously, so reads go through
    * [[quiesce]] — a short stability poll AFTER the timed section (the
    * poll is never charged to the query's seconds).
    */
  private final class ShuffleMeter extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val spill = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Poll until the async listener counter is stable across two 25 ms
    * reads (bounded at ~1 s) — the jobs are done when this is called, so
    * stability means the listener bus has drained this query's events.
    */
  private def quiesce(read: () => Long): Long = {
    var prev = read()
    var stable = 0
    var iters = 0
    while (stable < 2 && iters < 40) {
      Thread.sleep(25)
      val cur = read()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      iters += 1
    }
    prev
  }

  /** The five plan pins worth watching at sf0.1: each prepared face must
    * shuffle strictly fewer bytes than its cold twin (the prepared layout
    * replaces the per-query exchange with a persisted/bucketed read — if
    * the layout silently stops being picked up, bytes converge and the
    * check trips here before a human reads a plan).
    */
  private val ShuffleChecks: Seq[(String, String)] = Seq(
    "m1_fsm_count_prepared" -> "m1_fsm_count",
    "ta_sessionize_prepared" -> "ta_sessionize",
    "ta_purchase_paths_prepared" -> "ta_purchase_paths",
    "ta_time_to_convert_prepared" -> "ta_time_to_convert",
    "ta_funnel_cohort_prepared" -> "ta_funnel_cohort",
  )

  /** bench_bands.json, parsed with Spark's shipped Jackson — no new deps.
    * Shared with [[ScaleProbe]], which arbitrates its base-arm readings
    * against the same clean bands.
    */
  private[graft] def loadBands(path: String): Option[(String, Map[String, Double])] =
    try {
      val f = new java.io.File(path)
      if (!f.exists()) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(f)
        val sf = root.get("sf").asText()
        import scala.jdk.CollectionConverters._
        val m = root.get("bands").properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
        Some((sf, m))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] bands file unreadable ($path): $e")
        None
    }

  /** A reading is suspect above 2× its band — unconditionally. The old
    * `max(2×band, band + 0.75 s)` shape meant the trigger could NEVER
    * fire for any band under 0.75 s (most of the registry), and a >2×
    * sub-second escape shipped in r13, r14, r17 and r18. The re-read cost
    * of a false positive is three reps of a sub-second query — seconds —
    * and the min-of-2 primary protocol keeps false positives rare.
    */
  private[graft] def threshold(band: Double): Double = 2 * band

  /** `path` with `tag` inserted before the extension of its basename, or
    * appended when the basename has none — a dot in a directory name
    * never takes the tag.
    */
  private[graft] def stampPath(path: String, tag: String): String = {
    val dot = path.lastIndexOf('.')
    if (dot > path.lastIndexOf('/') + 1) path.substring(0, dot) + tag + path.substring(dot)
    else path + tag
  }

  /** min-of-2 merge for one query's two pass rows: keep the surviving
    * reading when one pass failed (a one-sided GC pause or transient OOM
    * must not turn a measurable query into an error row); only a
    * both-pass failure is an error, reporting the FIRST pass's class.
    */
  private[graft] def mergePasses(
      p1: (String, Option[Double], Option[String]),
      p2: (String, Option[Double], Option[String]),
  ): (String, Option[Double], Option[String]) = {
    val (n, t1, e1) = p1
    val (_, t2, e2) = p2
    val t = (t1.toSeq ++ t2.toSeq).minOption
    (n, t, if (t.isEmpty) e1.orElse(e2) else None)
  }

  /** Per-query EFFECTIVE times of a previous round's bench artifact: the
    * first reading, replaced by the arbitration rep minimum wherever that
    * round self-classified the first reading as noise ("contaminated" /
    * "inflated"). This is the round-over-round comparison base — the band
    * floor goes stale exactly when the box drifts, so a riser vs the
    * PREVIOUS round is an independent trigger (r17: two report queries
    * slowed 1.6-1.7× vs r16 yet sat under the band trigger and were never
    * re-read; this closes that gap structurally). Ignored unless the
    * artifact's sf dir basename matches the current one.
    */
  private[graft] def loadPrevEffective(path: String, sfBase: String): Map[String, Double] =
    try {
      val f = new java.io.File(path)
      if (!f.exists()) Map.empty
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val wrapper = om.readTree(f)
        // the round driver re-wraps Bench output as {n, rc, sf, parsed, …};
        // when the full JSON survived, "parsed" holds it — descend. (Driver
        // artifacts whose parsed is null carry only a 2000-char tail:
        // unusable, and the sf check below rejects them.)
        val root =
          if (wrapper.has("parsed") && wrapper.get("parsed").isObject) wrapper.get("parsed")
          else wrapper
        val prevSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
        // a pass1-only crash artifact carries single-sweep firsts — an
        // inflated estimator class that would mis-trigger round_over_round
        if (Option(root.get("partial")).exists(_.asBoolean(false))) Map.empty
        else if (new java.io.File(prevSf.stripSuffix("/")).getName != sfBase) Map.empty
        else {
          import scala.jdk.CollectionConverters._
          val arb = Option(root.get("arbitrated")).map { a =>
            a.properties().asScala.flatMap { e =>
              val v = e.getValue
              val verdict = Option(v.get("verdict")).map(_.asText()).getOrElse("")
              val minN = v.get("min")
              if ((verdict == "contaminated" || verdict == "inflated") &&
                minN != null && !minN.isNull)
                Some(e.getKey -> minN.asDouble())
              else None
            }.toMap
          }.getOrElse(Map.empty[String, Double])
          Option(root.get("queries")).map { q =>
            q.properties().asScala.flatMap { e =>
              if (e.getValue.isNull) None
              else Some(e.getKey -> arb.getOrElse(e.getKey, e.getValue.asDouble()))
            }.toMap
          }.getOrElse(Map.empty)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] prev bench unreadable ($path): $e")
        Map.empty
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val bandsPath = sys.env.getOrElse("SPARK_GRAFT_BANDS", "bench_bands.json")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up executor threads + codegen + parquet footers + the FSM emit
    // path (RowEncoder, broadcast machinery) so the first measured query
    // isn't charged session startup — on the SAME sf dir being benchmarked
    try {
      Tables(spark, sfDir, "events").count()
      SparkEntry.queries("m1_fsm_count")(spark, sfDir).count()
      // build + persist the shared prepared layout OUTSIDE the timed loop —
      // prepare is the amortized one-time step, so the measured
      // m1_fsm_count_prepared time is the per-query cost it buys
      engine.TrckQueries.preparedTrailEvents(spark, sfDir)
      // same for the durable bucketed table: the write is the amortized
      // cross-session step; the timed query measures the cold bucketed read
      engine.TrckQueries.durableTrailEvents(spark, sfDir).count()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // surface it — a silently-skipped warmup re-charges startup cost to
        // the first measured query
        System.err.println(s"[bench] warmup failed: $e")
    }
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val shuffleBytes = scala.collection.mutable.Map[String, Long]()
    val spillBytes = scala.collection.mutable.Map[String, Long]()
    // noop write materializes every output column — a bare count() would
    // let Catalyst prune projections and eliminate joins, timing a
    // different (cheaper) plan than the one Verify checks
    def run(name: String): Double = {
      // quiesce BEFORE starting too, so a previous query's late listener
      // events are flushed out of this query's delta window
      val b0 = quiesce(() => meter.bytes.get())
      val s0 = meter.spill.get()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // drain the bus AFTER the clock stops — attribution, not timing
      shuffleBytes(name) = quiesce(() => meter.bytes.get()) - b0
      spillBytes(name) = meter.spill.get() - s0
      sec
    }
    val loadStart = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // a failed query must NOT be timed as a (misleadingly fast) result:
    // record null for its time and list it under "errors"
    val names = SparkEntry.queries.keys.toSeq.sorted
    def sweep(): Seq[(String, Option[Double], Option[String])] = names.map { name =>
      try (name, Some(run(name)), None: Option[String])
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          (name, None, Some(e.getClass.getSimpleName))
      }
    }
    // min-of-2 interleaved passes (the r18 protocol finding): contamination
    // is one-sided inflation, so the minimum of two temporally-separated
    // full sweeps is the better clean-cost estimate — and the pass pair is
    // the noise-model instrument. A query that fails one pass but not the
    // other keeps the surviving reading; only a both-pass failure is an
    // error row.
    val pass1 = sweep()
    // crash/timeout insurance: the two-pass protocol doubles the runtime,
    // and the full artifact is only written at the end — persist a
    // pass1-only artifact NOW (marked "partial":true) so a harness
    // timeout mid-pass-2 still leaves usable per-query numbers on disk.
    // The final write replaces it.
    try {
      def pnum(v: Double) = math.round(v * 1000) / 1000.0
      val pq = pass1.map { case (k, v, _) =>
        "\"" + k + "\":" + v.fold("null")(t => pnum(t).toString)
      }.mkString("{", ",", "}")
      val pt = pass1.flatMap(_._2).sum
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(
        s"""{"metric":"total","value":$pt,"unit":"sec","partial":true,""" +
          s""""queries":$pq,"n_failed":${pass1.count(_._3.isDefined)},"sf":"$sfDir"}""")
      finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write partial artifact: $e")
    }
    val pass2 = sweep()
    val results: Seq[(String, Option[Double], Option[String])] =
      names.indices.map(i => mergePasses(pass1(i), pass2(i)))
    // contamination witness: 1-minute load average at start and end of the
    // run — necessary but NOT sufficient (BENCH_r07 was contaminated at a
    // recorded load of 2.57); the band arbitration below is the classifier.
    val loadEnd = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // first-read noise model: how much the first sweep over-reads the
    // second. n_inflated counts pass1 ≥ 1.5× pass2 (0.1 s delta floor);
    // the delta sum is the total seconds a SINGLE-pass protocol would have
    // mis-charged this run.
    val passPairs = names.indices.flatMap { i =>
      for (a <- pass1(i)._2; b <- pass2(i)._2) yield (names(i), a, b)
    }
    val nInflated = passPairs.count { case (_, a, b) => a > b * 1.5 && a - b > 0.1 }
    val p1OverP2 = passPairs.map { case (_, a, b) => a / math.max(b, 1e-9) }.sorted
    val medianP1P2 =
      if (p1OverP2.isEmpty) Double.NaN
      else p1OverP2(p1OverP2.size / 2)
    val firstReadDeltaSec = passPairs.map { case (_, a, b) => math.max(0.0, a - b) }.sum

    // ---- outlier arbitration against recorded clean bands ---------------
    val bands = loadBands(bandsPath)
    // basename EQUALITY, not endsWith: a dir named .../mysf0.1 must not
    // silently adopt the sf0.1 bands
    val sfMismatch = bands.exists { case (sf, _) =>
      new java.io.File(sfDir.stripSuffix("/")).getName != sf
    }
    val bandMap = if (sfMismatch) Map.empty[String, Double] else bands.map(_._2).getOrElse(Map.empty)
    // previous round's artifact for the round-over-round trigger: env
    // override, else the highest USABLE BENCH_r*.json (driver artifacts
    // may carry only an output tail — skip those), else the last
    // committed bench_out.json (Bench's own full artifact; read BEFORE
    // this run overwrites it, so it is the previous official run)
    val sfBase = new java.io.File(sfDir.stripSuffix("/")).getName
    // r21 (VERDICT r20 item 1): the driver's BENCH_r*.json artifacts are
    // tail-only and every one was skipped, so the r20 close ran with
    // prev_bench_file null — the cross-round riser net never armed. Full
    // close artifacts are now persisted per round as BENCH_OUT_r<n>.json
    // (r20's committed as part of this round); the scan prefers the
    // highest-round full artifact, then the driver artifacts (in case a
    // future driver version embeds the full JSON), then the last committed
    // bench_out.json.
    val prevCandidates = sys.env.get("SPARK_GRAFT_PREV_BENCH").map(Seq(_)).getOrElse {
      val files = Option(new java.io.File(".").listFiles()).toSeq.flatten
      def byRoundDesc(pat: String) = files
        .filter(_.getName.matches(pat))
        .sortBy(f => -f.getName.replaceAll("\\D", "").toInt)
        .map(_.getPath)
      byRoundDesc("BENCH_OUT_r\\d+\\.json") ++ byRoundDesc("BENCH_r\\d+\\.json") :+ outPath
    }
    val (prevBenchPath, prevEff) = prevCandidates.iterator
      .map(p => (Option(p), loadPrevEffective(p, sfBase)))
      .find(_._2.nonEmpty)
      .getOrElse((None, Map.empty[String, Double]))
    val unbanded = results.collect { case (n, Some(_), _) if !bandMap.contains(n) => n }
    val suspects = results.flatMap { case (name, tOpt, _) =>
      for (first <- tOpt; band <- bandMap.get(name) if first > threshold(band))
        yield (name, first, band)
    }
    // the trigger gap: two rounds running a >2×-band reading escaped under
    // max(2×band, band+0.75) — the 0.75 s floor shields every sub-second
    // band (r13 c_pack_sequences at 2.20×, r14 ann_lsh_recall at 2.13×).
    // So the top-6 first/band ratios are arbitrated UNCONDITIONALLY per
    // run (was top-3; the gap bit a third time in r17): on a clean run
    // that costs six ~1 s re-reads classified "clean"; on a polluted one
    // it catches exactly the sub-trigger escapes. Verdicts for
    // sub-threshold entries: "inflated" when the rep minimum shows the
    // first reading ran ≥1.5× its clean cost (subtracted from the
    // corrected total like "contaminated"), else "clean" (no subtraction —
    // min-of-reps must not bias a clean run).
    val suspectNames = suspects.map(_._1).toSet
    val topN = results
      .flatMap { case (name, tOpt, _) =>
        for (first <- tOpt; band <- bandMap.get(name) if !suspectNames(name))
          yield (name, first, band)
      }
      .sortBy { case (_, first, band) => -(first / band) }
      .take(6)
    val topNNames = topN.map(_._1).toSet
    // round-over-round trigger: any query ≥1.35× its PREVIOUS round's
    // effective time (with a 0.2 s absolute delta floor against
    // sub-second jitter) is arbitrated regardless of band distance —
    // the band floor is stale exactly when the box drifts, and r16/r17
    // each shipped silent >1.5× risers that sat under the band trigger.
    // 1.35/0.2 (was 1.5/0.25): r19's sole unexplained riser, t_cms_merge
    // at 1.36× prev with a 0.25 s delta, sat EXACTLY in the old trigger's
    // blind spot and shipped un-re-read.
    val risers = results
      .flatMap { case (name, tOpt, _) =>
        for (first <- tOpt; prev <- prevEff.get(name)
             if !suspectNames(name) && !topNNames(name) &&
               first > prev * 1.35 && first - prev > 0.2)
          yield (name, first, prev)
      }
      .sortBy { case (_, first, prev) => -(first / prev) }
    val (risersToArb, risersOverflow) = risers.splitAt(12)
    // bound the arbitration pass: on a fully-contaminated run, re-measuring
    // every query re-measures inside the same contamination and triples the
    // runtime for nothing. Up to 25 suspects every one gets arbitrated — the
    // r9 artifact left 5 unarbitrated under a hard cap of 16 and the round's
    // official number stayed unsettled; only beyond 25 (a run so polluted
    // the reps would be polluted too) fall back to worst-16 + listing.
    val cap = if (suspects.size <= 25) suspects.size else 16
    val (toArbitrate, overflow) =
      suspects.sortBy { case (_, first, band) => -(first / band) }.splitAt(cap)
    val candidates =
      toArbitrate.map { case (n, f, b) => (n, f, Some(b), prevEff.get(n), "band") } ++
        topN.map { case (n, f, b) => (n, f, Some(b), prevEff.get(n), "top_ratio") } ++
        risersToArb.map { case (n, f, p) => (n, f, bandMap.get(n), Some(p), "round_over_round") }
    val arbitrated = candidates.map { case (name, first, bandOpt, prevOpt, trigger) =>
      System.err.println(
        f"[bench] $name: $first%.2f s (trigger $trigger, band ${bandOpt.getOrElse(Double.NaN)}%.2f, " +
          f"prev ${prevOpt.getOrElse(Double.NaN)}%.2f) — re-measuring 3 reps")
      // a rep that throws (executor OOM under the same contamination) must
      // not abort main — that would lose the WHOLE artifact, the exact
      // failure this file exists to prevent
      val reps = (0 until 3).flatMap { _ =>
        try Some(run(name))
        catch {
          case t: Throwable =>
            System.err.println(s"[bench] $name arbitration rep failed: $t"); None
        }
      }
      val best = if (reps.nonEmpty) reps.min else Double.NaN
      val verdict =
        if (reps.isEmpty) "reps_failed"
        else if (bandOpt.exists(b => first > threshold(b))) {
          if (best <= threshold(bandOpt.get)) "contaminated" else "regression"
        } else if (best < first / 1.5) "inflated"
        else if (trigger == "round_over_round" && prevOpt.exists(p => best > p * 1.35))
          // the rise survives a min-of-4: a REAL slowdown vs the previous
          // round (new code cost or a lost optimization) — surfaced, never
          // subtracted from the corrected total
          "slower_than_prev"
        else "clean"
      (name, first, bandOpt, prevOpt, trigger, reps, best, verdict)
    }
    // the stamp must EARN its true: every bench since r17 stamped
    // suspect_contamination because the unconditional top-6 arbitration
    // almost always finds one warmth-"inflated" first read — a flag that
    // never reads false carries no signal. The flag's meaning is "this
    // run's HEADLINE number is materially affected by environment
    // noise": stamp true when the run exceeds the MODELED warmth band
    // (COOKBOOK "first-read noise": median pass1/pass2 ≤ ~1.15 on a
    // clean box) or the band-trigger "contaminated" corrections sum to a
    // material slice of the total (>2 s or >1%). Sub-0.3 s-band queries
    // bounce past 2× somewhere in almost every 195-query double sweep —
    // those re-reads are the trigger doing its job, the verdicts stay
    // fully visible under "arbitrated", and the corrected total already
    // subtracts them; they do not by themselves impeach the headline.
    val contaminatedDeltaSec = arbitrated.collect {
      case (_, first, _, _, _, _, best, "contaminated") if !best.isNaN => first - best
    }.sum
    val suspectContamination =
      (!medianP1P2.isNaN && medianP1P2 > 1.15) ||
        contaminatedDeltaSec > math.max(2.0, 0.01 * results.flatMap(_._2).sum)

    def num(v: Double) = math.round(v * 1000) / 1000.0
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v.fold("null")(t => num(t).toString) }
      .mkString("{", ",", "}")
    def passJs(p: Seq[(String, Option[Double], Option[String])]) =
      p.map { case (k, v, _) => s"\"" + k + "\":" + v.fold("null")(t => num(t).toString) }
        .mkString("{", ",", "}")
    val firstReadJs =
      s"""{"n_inflated":$nInflated,"median_p1_over_p2":${
        if (medianP1P2.isNaN) "null" else num(medianP1P2).toString
      },"pass1_minus_pass2_sec":${num(firstReadDeltaSec)}}"""
    val errs = results.collect { case (k, _, Some(e)) => s"\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val arb = arbitrated.map { case (k, first, bandOpt, prevOpt, trigger, reps, best, verdict) =>
      val minJs = if (best.isNaN) "null" else num(best).toString
      val bandJs = bandOpt.fold("null")(b => num(b).toString)
      val prevJs = prevOpt.fold("null")(p => num(p).toString)
      s""""$k":{"first":${num(first)},"band":$bandJs,"prev":$prevJs,"trigger":"$trigger","reps":[${reps.map(num).mkString(",")}],"min":$minJs,"verdict":"$verdict"}"""
    }.mkString("{", ",", "}")
    // per-query shuffle-write bytes (the value recorded by the LAST run of
    // each query — plans are deterministic, so passes agree) + the five
    // prepared-layout byte checks. Check failures are surfaced loudly but
    // never abort the artifact.
    val shufJs = names
      .map(n => "\"" + n + "\":" + shuffleBytes.getOrElse(n, -1L))
      .mkString("{", ",", "}")
    val checks = ShuffleChecks.map { case (prepName, coldName) =>
      val ok = for (p <- shuffleBytes.get(prepName); c <- shuffleBytes.get(coldName))
        yield p < c
      if (ok.contains(false))
        System.err.println(s"[bench] SHUFFLE CHECK FAILED: $prepName wrote " +
          s"${shuffleBytes(prepName)} shuffle bytes >= cold twin $coldName's " +
          s"${shuffleBytes(coldName)} - prepared layout regression?")
      (prepName, ok)
    }
    val checksJs = checks
      .map { case (n, ok) => "\"" + n + "\":" + ok.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val shuffleChecksOk = checks.forall(_._2.getOrElse(true))
    val total = results.flatMap(_._2).sum
    // the headline number a reader should quote: raw total minus the
    // arbitrated contamination deltas (first reading − clean rep minimum
    // for every query self-classified "contaminated"). Equals the raw
    // total on a clean run.
    val correctedTotal = total - arbitrated.collect {
      case (_, first, _, _, _, _, best, v)
        if (v == "contaminated" || v == "inflated") && !best.isNaN =>
        first - best
    }.sum
    // stamp the artifact with the commit it measured — SURVEY prose citing
    // probe/bench numbers is only checkable when runs are attributable
    val commit =
      try scala.sys.process.Process(Seq("git", "describe", "--always", "--dirty")).!!.trim
      catch { case scala.util.control.NonFatal(_) => "unknown" }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","corrected_total_sec":${num(correctedTotal)},"commit":"$commit","queries":$qs,"pass1":${passJs(pass1)},"pass2":${passJs(pass2)},"first_read":$firstReadJs,"errors":$errs,"n_failed":${results.count(_._3.isDefined)},""" +
        s""""load_avg_start":$loadStart,"load_avg_end":$loadEnd,""" +
        s""""bands_file":${bands.fold("null")(_ => "\"" + bandsPath + "\"")},"bands_sf_mismatch":$sfMismatch,""" +
        s""""unbanded":[${unbanded.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""prev_bench_file":${prevBenchPath.fold("null")("\"" + _ + "\"")},""" +
        s""""arbitrated":$arb,"unarbitrated_suspects":[${(overflow.map(_._1) ++ risersOverflow.map(_._1)).map("\"" + _ + "\"").mkString(",")}],""" +
        s""""shuffle_bytes":$shufJs,"shuffle_checks":$checksJs,"shuffle_checks_ok":$shuffleChecksOk,""" +
        s""""spill_bytes_total":${spillBytes.values.sum},""" +
        s""""suspect_contamination":$suspectContamination,"sf":"$sfDir"}"""
    // file first: if stdout capture is truncated (BENCH_r07) the artifact
    // still exists whole on disk
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(json) finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $outPath: $e")
    }
    // r22 (VERDICT r21 item 1): the round driver runs Bench at TWO core
    // counts with the same default out path, and in r21 the 8-core scaling
    // run overwrote the 32-core close artifact — the close's per-query
    // numbers were unrecoverable. The full artifact is therefore ALSO
    // written to a cpus-stamped path that no other core count can clobber.
    val cpuOutPath = stampPath(outPath, "_c" + cpus)
    try {
      val w = new java.io.PrintWriter(cpuOutPath, "UTF-8")
      try w.println(json) finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $cpuOutPath: $e")
    }
    println(json)
    // r22 (VERDICT r21 item 1, second half): the driver's BENCH_r*.json
    // artifacts keep only a ~2,000-char TAIL of stdout, and the full line
    // above is ~26 KB — both r21 bench artifacts were unparseable and
    // PERF_r21 compared nothing. So a SECOND, compact summary line
    // (~1.3 KB — it fits whole inside a 2,000-char tail even with sbt's
    // trailing "[success]" line) is printed LAST: headline totals plus
    // per-query seconds as "qv", a value ARRAY in sorted-query-name order
    // (a 198-entry named map is ~4.6 KB and cannot fit; the name list is
    // recoverable from the registry and pinned by "qn_sha256" = first 12
    // hex chars of SHA-256 over the comma-joined sorted names). The full
    // named map lives in the files named by "full_artifact". Additions
    // only: the full contract line above is unchanged.
    val qnHash = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(names.mkString(",").getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
    }
    def num2(v: Double) = math.round(v * 100) / 100.0
    val qvJs = results.map(_._2.fold("null")(t => num2(t).toString)).mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","corrected_total_sec":${num(correctedTotal)},""" +
        s""""commit":"$commit","cpus":${cpus.toIntOption.fold("null")(_.toString)},"n_queries":${names.size},"n_failed":${results.count(_._3.isDefined)},""" +
        s""""suspect_contamination":$suspectContamination,"compact":true,"full_artifact":"$cpuOutPath",""" +
        s""""qn_sha256":"$qnHash","qv":$qvJs,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(stampPath(cpuOutPath, "_summary"), "UTF-8")
      try w.println(compact) finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write compact summary: $e")
    }
    println(compact)
    spark.stop()
  }
}
