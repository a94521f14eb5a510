package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.{Bindings, FsmState, TrailEvent}
import graft.trck.LocalRunner.ForeachTuple

/** The distributed trail-matching operator: runs a trck program over a
  * `(uuid, ts, fields…)` DataFrame.
  *
  * Physical shape (the plan that survives 100 TB):
  *
  *   scan (pruned to uuid + ts + program fields, filters pushed down)
  *     → sorted-group operator keyed by uuid, ordered by (src, ts,
  *       tiebreak…): the planner adds the ONE shuffle and the sort only
  *       when the input is not already laid out ([[TrailEngine.prepare]],
  *       bucketed tables); one trail in memory at a time, the foreach loop
  *       with the reference's N+1 skip optimizations, MAX_TIMESTAMP
  *       finalization inline, compact yield rows out
  *     → [[TrailEngine.fold]]: one groupBy(tuple, kind, dst, item)
  *       aggregation — partial map-side combine makes the second shuffle
  *       O(distinct yields), not O(events)
  *
  * State never outlives one trail iterator step, so executor memory is
  * O(longest trail + tuple count), independent of partition size — the
  * property that lets this run on 1000 executors with skewed users.
  *
  * The per-trail semantics are shared byte-for-byte with LocalRunner
  * (the golden-tested oracle) via TrailMatcher.
  */
object TrailEngine {

  /** Spark conf key bounding the implicit-foreach lexicon sweep. */
  val MaxImplicitForeachKey = "spark.graft.maxImplicitForeach"
  val MaxImplicitForeachDefault = 100000L

  /** Implicit-foreach lexicon sweep: the distinct non-empty values of
    * `field`, driver-collected and sorted. The collect itself is
    * reference-sanctioned (the reference sweeps the DB lexicons the same
    * way, src/match_traildb.c:188-236) and fine for enum-like fields — but
    * a user pointing `foreach %x` at a high-cardinality field must get a
    * clear error, not a driver OOM, so an approx_count_distinct pre-check
    * fails fast above the configurable bound.
    */
  def lexiconSweep(events: DataFrame, field: String): Vector[String] = {
    // a field that is not a column reads as "" everywhere else in the
    // engine (emits' projection) — the sweep over it is the empty lexicon,
    // not an unresolved-column AnalysisException
    if (!events.columns.contains(field)) return Vector.empty
    val spark = events.sparkSession
    val bound = spark.conf.getOption(MaxImplicitForeachKey)
      .map(_.toLong).getOrElse(MaxImplicitForeachDefault)
    val approx = events.agg(approx_count_distinct(col(field)).as("n")).head.getLong(0)
    if (approx > bound)
      throw new IllegalArgumentException(
        s"implicit foreach over '$field' would sweep ~$approx distinct values " +
          s"(bound $bound): the lexicon is collected to the driver, so this " +
          s"field is too high-cardinality for an implicit sweep — bind an " +
          s"explicit foreach array, or raise $MaxImplicitForeachKey")
    events
      .select(coalesce(col(field).cast(StringType), lit("")).as("v"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .filter(_.nonEmpty)
      .sorted
      .toVector
  }

  /** Foreach tuples of a run: the one empty tuple without a groupby, the
    * caller's explicit tuples, or the implicit sweep of the groupby var's
    * field over `lexicon`, "" first (reference:
    * src/match_traildb.c:188-236).
    */
  private[engine] def resolveTuples(
      prog: CompiledProgram,
      foreachTuples: Option[Vector[ForeachTuple]],
      lexicon: DataFrame,
  ): Vector[ForeachTuple] =
    if (prog.groupbyVars.isEmpty) Vector(ForeachTuple(Vector.empty))
    else
      foreachTuples.getOrElse {
        require(prog.groupbyVars.size == 1, "implicit foreach requires exactly one var")
        val field = prog.varFields(prog.groupbyVars.head)
        ("" +: lexiconSweep(lexicon, field)).map(v => ForeachTuple(Vector(Left(v))))
      }

  /** Emit-row schema, the one wire format between the trail matchers
    * ([[emits]], TrailStream) and [[fold]]: one row per (ctx id × tuple ×
    * yield item). `uuid` is the result ctx id — the window entry id inside
    * an entry's run, the cookie otherwise.
    */
  private[graft] val emitSchema: StructType = StructType(Seq(
    StructField("uuid", StringType),
    StructField("tuple_idx", IntegerType),
    StructField("kind", StringType), // c / s / m / h
    StructField("dst", StringType),
    StructField("item", BinaryType), // encoded tuple; null for counters
    StructField("n", LongType),
  ))

  /** Union one zero-event `__ghost=1` sentinel row per trail (per source
    * when `srcCol` is set) present in `presentFrom` onto `real` (whose rows
    * get `__ghost=0`). Sentinels assert a trail's existence independently
    * of how many events survive downstream filters — the reference iterates
    * DB trail lists regardless of per-event filters
    * (src/match_traildb.c:513-560) — so the engine still runs the per-entry
    * loop and MAX_TIMESTAMP finalization for a trail filtered to zero
    * events. The engine never materializes sentinels as events and they
    * never join the consecutive-dup compare; for trails with surviving
    * events the extra row is inert. Sentinel ts is 0 and every other
    * column null — position inside the trail's run is irrelevant.
    */
  def withPresenceSentinels(
      real: DataFrame,
      presentFrom: DataFrame,
      uuidCol: String,
      tsCol: String,
      srcCol: Option[String] = None,
  ): DataFrame = {
    require(!real.columns.contains("__ghost"),
      "frame already carries __ghost presence sentinels")
    val keyCols = (uuidCol +: srcCol.toSeq).map(col)
    val present = presentFrom.select(keyCols: _*).distinct()
    val sentinel = present.select(real.schema.fields.map { f =>
      if (f.name == uuidCol || srcCol.contains(f.name)) col(f.name)
      else if (f.name == tsCol) lit(0L).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    real.withColumn("__ghost", lit(0))
      .unionByName(sentinel.withColumn("__ghost", lit(1)))
  }

  /** Cluster + sort a trail events frame ONCE for repeated trail queries.
    * [[emits]] groups by the string-cast uuid and sorts each trail by
    * (Long-cast src, ts as long, tiebreak…); this layout is clustered and
    * sorted on exactly those expressions, so the Spark planner finds the
    * distribution and ordering already satisfied and inserts no exchange or
    * sort of its own — the per-query shuffle+sort, the dominant cost of
    * every trail query, is paid once here. The planner adds them only when
    * the input lacks them, so any frame stays correct, laid out or not.
    * Persist the result for within-session reuse, or write a durable
    * layout with `write.bucketBy(n, uuidCol)`: a bucketed scan satisfies
    * the clustering (no exchange) and the planner sorts each bucket
    * locally, however many files a bucket holds.
    *
    * The layout bakes in `__ghost` presence sentinels
    * ([[withPresenceSentinels]]): one zero-event row per trail (per source)
    * so downstream filters that empty a trail still leave its per-entry
    * loop and finalization running — the same empty-trail parity
    * TrckSparkRunner maintains on a bare frame, now durable in the layout
    * (filters over a layout must keep `__ghost=1` rows; runRaw does so
    * automatically). For multi-source frames built by unionSources, pass
    * `presence` from [[TrckSparkRunner.unionSourcesWithPresence]] so a
    * source fully below its min_ts cut keeps its (uuid, src) sentinel.
    */
  def prepare(
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      srcCol: Option[String] = None,
      presence: Option[DataFrame] = None,
  ): DataFrame = {
    val withGhosts =
      if (events.columns.contains("__ghost")) events // already sentinel-bearing
      else withPresenceSentinels(events, presence.getOrElse(events), uuidCol, tsCol, srcCol)
    val uuid = col(uuidCol).cast(StringType)
    withGhosts
      .repartition(uuid)
      .sortWithinPartitions(
        uuid +: (srcCol.map(c => col(c).cast(LongType)).toSeq ++
          (graft.Tables.tsLong(withGhosts, tsCol) +: tiebreak.map(col))): _*)
  }

  /** Run `prog` over `events`, which must contain `uuidCol`, `tsCol`
    * (long seconds) and a column per program-referenced field (missing
    * columns read as ""). Extra columns participate in consecutive-dup
    * elision only (reference semantics: dedup compares the full event).
    * `tiebreak` columns complete the per-trail event order under equal ts.
    *
    * Each trail is one group of a sorted-group operator keyed by the uuid:
    * the planner clusters and sorts the input only where it is not already
    * laid out (see [[prepare]]), and one pass per trail streams its rows,
    * skips `__ghost` sentinels, elides consecutive dups per source segment,
    * then replays each segment per window entry
    * ([[TrailMatcher.replaySegment]]) and finalizes once per cookie.
    */
  def emits(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      fcalls: Map[String, Fsm.Fcall] = Map.empty,
      /** window-file entries, in file order (reference window_set): each
        * listed cookie's trail is matched once PER ENTRY — own ctx cookie
        * (the id), own [start, end) bounds — while FSM state stays keyed by
        * the real cookie (every entry of one DB starts from the state the
        * previous DB left; the LAST entry's output state carries forward;
        * finalization runs once per cookie) — exactly LocalRunner /
        * src/match_traildb.c:513-560 + j128m keying at :570,:789.
        * Unlisted trails must be dropped upstream (broadcast semi-join).
        */
      windows: Option[Seq[LocalRunner.WindowEntry]] = None,
      /** source-index column for multi-source runs (see
        * [[TrckSparkRunner.unionSources]]): each trail replays its sources
        * sequentially, and `srcCuts(i)` (the min_ts cut of source i) feeds
        * the per-source ctx window start like LocalRunner's
        * `max(windowStart, minTs)` (Local.scala) — so Y5
        * cookie_timestamp_filter_start yields match.
        */
      srcCol: Option[String] = None,
      srcCuts: Array[Long] = Array.empty,
      /** ignored: the planner decides whether `events` still needs
        * clustering and sorting (see [[prepare]]); kept so existing callers
        * compile.
        */
      prepared: Boolean = false,
  ): DataFrame = {
    val spark = events.sparkSession
    val tuples = resolveTuples(prog, foreachTuples, events)
    val (projected, pass) = trailProjection(prog, events, uuidCol, tsCol, tiebreak, srcCol)
    val trailOrder: Seq[Column] = srcCol.map(_ => col("__srcord")).toSeq ++
      (col("__ts") +: tiebreak.indices.map(i => col(s"__tb$i")))

    // window entries per cookie, in window-file order
    val winByCookie: Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]] =
      windows.map(_.groupBy(_.cookie).view.mapValues(_.toIndexedSeq).toMap)

    val tuplesB = spark.sparkContext.broadcast(tuples)
    val winB = spark.sparkContext.broadcast(winByCookie)
    val cutsB = spark.sparkContext.broadcast(srcCuts)

    projected
      .groupBy(col("__uuid"))
      .as[String, Row](Encoders.STRING, Encoders.row(projected.schema))
      .flatMapSortedGroups(trailOrder: _*) { (uuid: String, rows: Iterator[Row]) =>
        val ts = tuplesB.value
        val cuts = cutsB.value
        val entriesOpt: Option[IndexedSeq[LocalRunner.WindowEntry]] = winB.value match {
          case Some(m) => m.get(uuid) // unlisted trails drop
          case None    => Some(IndexedSeq(LocalRunner.WindowEntry(uuid, uuid, 0L, 0L)))
        }
        if (entriesOpt.isEmpty) Iterator.empty
        else {
          val buf = ArrayBuffer[Row]()
          // ONE shared initial state for all tuples: processTrail never
          // mutates saved entries (runOne copies first) and groups aliases
          // with an identity fast path — per-tuple initial allocation was
          // pure overhead at wide foreach cardinalities
          val init = FsmState.initial(prog)
          var carried = Array.fill(ts.length)(init)
          for ((src, seg) <- pass.segments(rows)) {
            // single-source runs carry no cuts (src tag 0, cuts empty); a
            // TAGGED source beyond the cuts array means the caller lost the
            // unionSources cuts — silently treating it as uncut would
            // include events below that source's min_ts, so fail fast
            val cut =
              if (cuts.isEmpty) 0L
              else if (src >= 0 && src < cuts.length) cuts(src.toInt)
              else throw new IllegalStateException(
                s"source index $src has no min_ts cut (${cuts.length} cuts) — " +
                  "pass unionSources' cuts through srcCuts")
            carried = TrailMatcher.replaySegment(
              prog, ts, carried, seg, entriesOpt.get, cut, params, fcalls, encode(buf, _))
          }
          // one finalization per cookie, ctx = the real cookie
          // (reference: :899-944 iterates the cookie-keyed states map)
          TrailMatcher.finalizeTrail(prog, ts, carried, uuid, params, fcalls, encode(buf, uuid))
          buf.iterator
        }
      }(Encoders.row(emitSchema))
      .toDF()
  }

  /** The per-trail projection [[emits]] and TrailStream read: `__uuid`,
    * `__ts` (long seconds), `__srcord` (multi-source runs), every other
    * column cast to string, `__tb<i>` tiebreaks, `__ghost` (sentinel-bearing
    * frames) — plus the [[TrailPass]] that turns one trail's rows of it
    * into events.
    *
    * Every non-reserved column joins the consecutive-dup compare: by
    * reference semantics dedup uses the full input row (src/ctx.c:112-131).
    * The src column is projected separately AS A NUMBER (a string cast
    * would order source 10 before 2) and stays out of the compare —
    * per-source segmentation already prevents cross-boundary elision.
    * Tiebreak columns keep their ORIGINAL types in dedicated sort columns:
    * a numeric tiebreak sorted lexically would order "10" before "9" under
    * equal ts. `__ghost` marks zero-event presence sentinels
    * ([[withPresenceSentinels]]).
    */
  private[graft] def trailProjection(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      srcCol: Option[String] = None,
  ): (DataFrame, TrailPass) = {
    val hasGhost = events.columns.contains("__ghost")
    val reserved = (Seq(uuidCol, tsCol) ++ srcCol ++ (if (hasGhost) Seq("__ghost") else Nil)).toSet
    val dedupCols = events.columns.filterNot(reserved).toSeq
    val srcSel: Seq[Column] = srcCol.map(c => col(c).cast(LongType).as("__srcord")).toSeq
    val tbSel: Seq[Column] = tiebreak.zipWithIndex.map { case (c, i) => col(c).as(s"__tb$i") }
    val ghostSel: Seq[Column] =
      if (hasGhost) Seq(col("__ghost").cast(IntegerType).as("__ghost")) else Nil
    val projected = events.select(
      (col(uuidCol).cast(StringType).as("__uuid") +:
        graft.Tables.tsLong(events, tsCol).as("__ts") +:
        srcSel) ++
        dedupCols.map(c => col(c).cast(StringType).as(c)) ++ tbSel ++ ghostSel: _*
    )
    val fieldBase = 2 + srcSel.length
    val fieldIdx = prog.fields.map { f =>
      val i = dedupCols.indexOf(f)
      if (i >= 0) i + fieldBase else -1
    }
    val ghostIdx = if (hasGhost) fieldBase + dedupCols.length + tiebreak.length else -1
    (projected, TrailPass(fieldIdx, fieldBase, fieldBase + dedupCols.length, srcCol.isDefined, ghostIdx))
  }

  /** Row positions of a [[trailProjection]]: program fields (`-1` reads
    * as ""), the dedup column range, the src and ghost columns.
    */
  private[graft] final case class TrailPass(
      fieldIdx: Array[Int], dedupFrom: Int, dedupUntil: Int, hasSrc: Boolean, ghostIdx: Int) {

    private def field(r: Row, i: Int): String = {
      val v = r.get(i); if (v == null) "" else v.toString
    }

    /** One pass over a trail's rows in replay order: source segments in
      * order, each with its own consecutive-dup elision over the dedup
      * columns (null ≡ "", like LocalRunner). `__ghost` sentinels are
      * skipped, but a sentinel-only segment still appears (empty) so its
      * per-entry loop stays observable.
      */
    def segments(rows: Iterator[Row]): ArrayBuffer[(Long, Array[TrailEvent])] = {
      val segs = ArrayBuffer[(Long, ArrayBuffer[TrailEvent])]()
      var prev: Row = null
      while (rows.hasNext) {
        val cur = rows.next()
        val src = if (hasSrc) cur.getLong(2) else 0L
        if (segs.isEmpty || segs.last._1 != src) { segs += ((src, ArrayBuffer())); prev = null }
        if (ghostIdx < 0 || cur.getInt(ghostIdx) != 1) {
          val dup = prev != null && prev.getLong(1) == cur.getLong(1) && {
            var i = dedupFrom; var same = true
            while (same && i < dedupUntil) { same = field(prev, i) == field(cur, i); i += 1 }
            same
          }
          if (!dup) {
            val arr = new Array[String](fieldIdx.length)
            var i = 0
            while (i < arr.length) {
              arr(i) = if (fieldIdx(i) == -1) "" else field(cur, fieldIdx(i))
              i += 1
            }
            segs.last._2 += new TrailEvent(cur.getLong(1), arr)
            prev = cur
          }
        }
      }
      segs.map { case (src, evs) => (src, evs.toArray) }
    }
  }

  /** The emit-row encoder: appends the yields `r` holds for foreach tuple
    * `j` to `buf` as [[emitSchema]] rows keyed by `ctxId` — counters as
    * (`c`, dst, null, count), set and multiset items as (`s`/`m`, dst,
    * encoded tuple, count), HLL sketches as (`h`, dst, registers, 1).
    */
  private[graft] def encode(buf: ArrayBuffer[Row], ctxId: String)(j: Int, r: Results): Unit = {
    // O(1) skip for identity results: a wide foreach broadcasts one
    // scratch to thousands of absent-value tuples that yielded nothing —
    // iterating four empty/zero maps per tuple was measurable at
    // 10k-tuple cardinality
    if (!r.touched) return
    r.counters.foreach { case (d, v) => if (v != 0) buf += Row(ctxId, j, "c", d, null, v) }
    r.sets.foreach { case (d, m) => m.foreach { case (t, c) => buf += Row(ctxId, j, "s", d, t, c) } }
    r.msets.foreach { case (d, m) => m.foreach { case (t, c) => buf += Row(ctxId, j, "m", d, t, c) } }
    r.hlls.foreach { case (d, h) => buf += Row(ctxId, j, "h", d, h.registers, 1L) }
  }

  /** Fold emit rows back into reference-shaped results: the monoid add of
    * the reference's match_add_results (src/match_traildb.c:402-406) as
    * Spark aggregations whose partial map-side combine keeps the shuffle
    * O(distinct yields). Counters, sets and multisets are summed in ONE
    * aggregation (`item` is null for counters). HLL registers are
    * max-merged in a second one, run only when the program declares an
    * HLL, because the merge buffer is 16 KiB per group; the emit stream
    * is cached only when both run. Only the aggregated rows are collected
    * — O(tuples × result vars [× set cardinality]), never events.
    */
  def fold(emitted: DataFrame, prog: CompiledProgram, tuples: Vector[ForeachTuple]): LocalRunner.RunOutput = {
    val needSums = prog.yieldCounters.nonEmpty || prog.yieldSets.nonEmpty || prog.yieldMultisets.nonEmpty
    val needHlls = prog.yieldHlls.nonEmpty
    val em = if (needSums && needHlls) emitted.cache() else emitted
    val results = Vector.fill(if (prog.mergeResults) 1 else tuples.length)(new Results(prog))
    def slot(j: Int): Results = {
      val res = results(if (prog.mergeResults) 0 else j)
      res.touched = true // direct map writes bypass the emit methods
      res
    }
    if (needSums)
      (if (needHlls) em.filter(col("kind") =!= "h") else em)
        .groupBy("tuple_idx", "kind", "dst", "item").agg(sum("n"))
        .collect()
        .foreach { r =>
          val res = slot(r.getInt(0))
          val dst = r.getString(2)
          val n = r.getLong(4)
          r.getString(1) match {
            case "c" => res.counters.updateWith(dst)(c => Some(c.getOrElse(0L) + n))
            case kind =>
              val m = if (kind == "s") res.sets(dst) else res.msets(dst)
              val item = r.getAs[Array[Byte]](3)
              m.update(item, m.getOrElse(item, 0L) + n)
          }
        }
    // register-max INTO the slot, never overwrite: with mergeResults every
    // tuple_idx maps to slot 0, and the per-tuple sketches must union
    // (reference: match_add_results' hll merge)
    if (needHlls)
      em.filter(col("kind") === "h")
        .groupBy("tuple_idx", "dst")
        .agg(graft.functions.HllAggregator.trckHllMergeHex(col("item")))
        .collect()
        .foreach { r =>
          val h = Hll.fromHexString(r.getString(2))
          slot(r.getInt(0)).hlls.updateWith(r.getString(1))(prev => Some(prev.fold(h)(_.merge(h))))
        }
    if (em ne emitted) em.unpersist()
    LocalRunner.RunOutput(prog, tuples, results, prog.mergeResults)
  }

  /** Counter results as a DataFrame: (tuple vars…, dst, value), summed
    * across trails — the A1 monoid as a plain Spark aggregation.
    */
  def counters(
      emitted: DataFrame,
      prog: CompiledProgram,
      tuples: Vector[ForeachTuple],
  ): DataFrame = {
    val agg = emitted
      .filter(col("kind") === "c")
      .groupBy("tuple_idx", "dst")
      .agg(sum("n").as("value"))
    withTupleCols(agg, prog, tuples)
  }

  /** Per-uuid counter results: (uuid, dst, value). */
  def countersByUuid(emitted: DataFrame): DataFrame =
    emitted
      .filter(col("kind") === "c")
      .groupBy("uuid", "dst")
      .agg(sum("n").as("value"))

  /** Join the small foreach-tuple table back for readable output. */
  private def withTupleCols(df: DataFrame, prog: CompiledProgram, tuples: Vector[ForeachTuple]): DataFrame = {
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val varNames = prog.groupbyVars.map(v => Ir.stripType(v))
    val schema = StructType(
      StructField("tuple_idx", IntegerType) +: varNames.map(n => StructField(n, StringType)))
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      Row.fromSeq(i +: t.items.map {
        case Left(s)   => s
        case Right(ss) => ss.toSeq.sorted.mkString(",")
      })
    }
    val tupleDf = spark.createDataFrame(rows.asJava, schema)
    if (varNames.isEmpty) df else df.join(broadcast(tupleDf), "tuple_idx")
  }
}
