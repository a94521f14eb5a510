package trailbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.engine.{TrailEngine, TrckSparkRunner}
import graft.engine.TrckSparkRunner.EngineFilters
import graft.trck.{LocalRunner, TrailMatcher}
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.Bindings
import graft.trck.LocalRunner.{ForeachTuple, RunOutput}

/** The arguments of one `TrckSparkRunner.runRaw` call, as the `graft.Trck`
  * parquet path builds them.
  */
final case class EngineCall(
    prog: CompiledProgram,
    events: DataFrame,
    tiebreak: Seq[String] = Nil,
    params: Bindings = Bindings(),
    tuples: Option[Vector[ForeachTuple]] = None,
    filters: EngineFilters = EngineFilters(),
    srcCuts: Array[Long] = Array.empty,
    presence: Option[DataFrame] = None,
    prepared: Boolean = false,
)

/** Runs one engine call. Untraced, that is the single `runRaw` call a user
  * makes. Traced, the same query is materialized one layer further per
  * span — scan, +exchange, +match/emit, +merge — so a layer's self time is
  * its span minus the previous one ([[SelfTime.cumulative]]).
  */
object Layers {
  val Uuid = "uuid"
  val Ts = "ts"

  /** Counts the traced chain takes from the program beyond span times. */
  final case class Counts(
      lexiconValues: Long, scanRows: Long, scanFileBytes: Long, emitRows: Long, matchCalls: Long)

  def run(call: EngineCall, tr: Tracer): (RunOutput, Option[Counts]) =
    if (!tr.enabled) (runRaw(call, call.tuples), None)
    else traced(call, tr)

  private def runRaw(call: EngineCall, tuples: Option[Vector[ForeachTuple]]): RunOutput =
    TrckSparkRunner.runRaw(call.prog, call.events, Uuid, Ts, call.tiebreak, call.params, tuples,
      call.filters, srcCuts = call.srcCuts, presence = call.presence, prepared = call.prepared)

  private def traced(call: EngineCall, tr: Tracer): (RunOutput, Option[Counts]) = {
    val prog = call.prog
    val tuples: Option[Vector[ForeachTuple]] =
      if (prog.groupbyVars.isEmpty) None
      else call.tuples.orElse {
        val field = prog.varFields(prog.groupbyVars.head)
        val values = tr.span("engine.lexicon")(TrailEngine.lexiconSweep(call.events, field))
        Some(("" +: values).map(v => ForeachTuple(Vector(Left(v)))))
      }
    val lexiconValues = if (call.tuples.isEmpty) tuples.map(_.length - 1L).getOrElse(0L) else 0L
    val (trails, windows) = trailFrame(call)
    val srcCol = if (call.events.columns.contains("__src")) Some("__src") else None

    val scanRows = tr.span("scan")(trails.queryExecution.toRdd.count())
    val scanFileBytes = fileBytes(trails.queryExecution.executedPlan)
    if (!call.prepared)
      tr.span("exchange")(exchanged(trails, srcCol, call.tiebreak).queryExecution.toRdd.count())
    val callsBefore = TrailMatcher.matchCalls.sum()
    val emitRows = tr.span("match") {
      TrailEngine.emits(prog, trails, Uuid, Ts, call.tiebreak, call.params, tuples,
        windows = windows, srcCol = srcCol, srcCuts = call.srcCuts, prepared = call.prepared)
        .queryExecution.toRdd.count()
    }
    val matchCalls = TrailMatcher.matchCalls.sum() - callsBefore
    val out = tr.span("merge")(runRaw(call, tuples))
    (out, Some(Counts(lexiconValues, scanRows, scanFileBytes, emitRows, matchCalls)))
  }

  /** The frame `runRaw` hands to `TrailEngine.emits`: exclude, CNF, window
    * bounds and presence sentinels applied, before the trail exchange.
    */
  def trailFrame(call: EngineCall): (DataFrame, Option[Seq[LocalRunner.WindowEntry]]) = {
    val events = call.events
    val f = call.filters
    val hasGhost = events.columns.contains("__ghost")
    def keepGhosts(df: DataFrame, c: Column): Column =
      if (df.columns.contains("__ghost")) c || col("__ghost") === 1 else c
    def withSentinels(real: DataFrame, present: DataFrame): DataFrame =
      TrailEngine.withPresenceSentinels(real, present, Uuid, Ts,
        srcCol = if (present.columns.contains("__src")) Some("__src") else None)

    val afterExclude = TrckSparkRunner.applyFilters(events, Uuid, Ts, f.copy(cnf = None))
    val filtered = f.cnf.map(c => afterExclude.filter(keepGhosts(afterExclude, c))).getOrElse(afterExclude)
    val presentBase = call.presence
      .map(p => TrckSparkRunner.applyFilters(p, Uuid, Ts, f.copy(cnf = None)))
      .getOrElse(afterExclude)
    f.windows match {
      case Some(ws) =>
        val spark = events.sparkSession
        import spark.implicits._
        val bounds = ws.entries.groupBy(_.cookie).map { case (cookie, es) =>
          val lo = if (es.exists(_.start == 0L)) 0L else es.map(_.start).min
          val hi = if (es.exists(_.end == 0L)) 0L else es.map(_.end).max
          (cookie, lo, hi)
        }.toSeq.toDF(Uuid, "__wlo", "__whi")
        val joined = filtered
          .join(broadcast(bounds), Seq(Uuid))
          .filter(keepGhosts(filtered,
            (col("__wlo") === 0L || col(Ts).cast("long") >= col("__wlo")) &&
              (col("__whi") === 0L || col(Ts).cast("long") < col("__whi"))))
          .drop("__wlo", "__whi")
        if (hasGhost) (joined, Some(ws.entries))
        else {
          val listed = presentBase.join(broadcast(bounds.select(Uuid)), Seq(Uuid), "left_semi")
          (withSentinels(joined, listed), Some(ws.entries))
        }
      case None =>
        if (hasGhost || !TrailMatcher.emptyRunMutates(call.prog)) (filtered, None)
        else (withSentinels(filtered, presentBase), None)
    }
  }

  /** The engine's projection plus its one trail exchange and sort. */
  def exchanged(trails: DataFrame, srcCol: Option[String], tiebreak: Seq[String]): DataFrame = {
    val reserved = Set(Uuid, Ts, "__ghost") ++ srcCol
    val src = srcCol.map(c => col(c).cast(LongType).as("__srcord")).toSeq
    val tb = tiebreak.zipWithIndex.map { case (c, i) => col(c).as(s"__tb$i") }
    val ghost = if (trails.columns.contains("__ghost")) Seq(col("__ghost").cast("int")) else Nil
    val projected = trails.select(
      (col(Uuid).cast(StringType).as("__uuid") +: graft.Tables.tsLong(trails, Ts).as("__ts") +: src) ++
        trails.columns.filterNot(reserved).map(c => col(c).cast(StringType).as(c)) ++ tb ++ ghost: _*)
    projected
      .repartition(col("__uuid"))
      .sortWithinPartitions(
        col("__uuid") +: (src.map(_ => col("__srcord")) ++
          (col("__ts") +: tb.indices.map(i => col(s"__tb$i")))): _*)
  }

  /** Size of the files an executed plan's file scans read ("size of files
    * read"). The task-level input metric misses parquet page reads, which
    * the reader issues off the task thread.
    */
  def fileBytes(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => fileBytes(a.executedPlan)
    case q: QueryStageExec        => fileBytes(q.plan)
    case s: FileSourceScanExec    => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    case p                        => p.children.map(fileBytes).sum
  }

  /** Rows the merge layer collects to the driver: one per (tuple, counter)
    * with a non-zero count, per distinct set or multiset item, and per
    * HLL destination (programs with merged results fold tuples together,
    * so for them this is a lower bound).
    */
  def collectedRows(out: RunOutput): Long =
    out.results.iterator.map { r =>
      r.counters.count(_._2 != 0L).toLong + r.sets.valuesIterator.map(_.size.toLong).sum +
        r.msets.valuesIterator.map(_.size.toLong).sum + r.hlls.size
    }.sum
}
