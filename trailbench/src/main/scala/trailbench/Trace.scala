package trailbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One recorded span: a call from the benchmark into one layer of one query. */
final case class Span(id: Int, name: String, parent: Int, query: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer. The untraced tracer
  * runs the body and records nothing; the traced one keeps every span in
  * memory and tags the Spark jobs each span submits, so the
  * [[LayerListener]] can attribute task counts to it.
  */
sealed trait Tracer {
  def enabled: Boolean
  def span[T](name: String)(body: => T): T
  def query[T](qid: Int)(body: => T): T
}

object Tracer {
  /** Local property carrying the innermost open span id into the jobs it submits. */
  val SpanProperty = "trailbench.span"

  object Off extends Tracer {
    def enabled = false
    def span[T](name: String)(body: => T): T = body
    def query[T](qid: Int)(body: => T): T = body
  }

  final class On(sc: SparkContext) extends Tracer {
    def enabled = true
    val spans = mutable.ArrayBuffer[Span]()
    private var open: List[Int] = Nil
    private var qid = -1
    private var nextId = 0

    def span[T](name: String)(body: => T): T = {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open ::= id
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, qid, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
      }
    }

    def query[T](q: Int)(body: => T): T = {
      qid = q
      try span("query")(body) finally qid = -1
    }
  }
}

/** Task counts summed per span. */
final class SpanCounts {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L

  def +=(o: SpanCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runNs += o.runNs
    bytesRead += o.bytesRead
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes
  }
}

/** Attributes job and task metrics to the span that submitted the job. */
final class LayerListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, SpanCounts]()

  private def counts(span: Int): SpanCounts = bySpan.computeIfAbsent(span, _ => new SpanCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    counts(span).synchronized { counts(span).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = counts(stageSpan.getOrDefault(e.stageId, -1))
    c.synchronized {
      c.tasks += 1
      c.runNs += m.executorRunTime * 1000000L
      c.bytesRead += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counts of the given spans, summed. Call after the bus has drained. */
  def of(spans: Iterable[Int]): SpanCounts = {
    val out = new SpanCounts
    spans.foreach(s => Option(bySpan.get(s)).foreach(out += _))
    out
  }
}

object SelfTime {
  /** Layer times from a cumulative split: each span runs the same query
    * one layer further than the one before, so a layer's self time is its
    * span minus the previous cumulative span.
    */
  def cumulative(spans: Seq[Double]): Seq[Double] =
    spans.indices.map(i => if (i == 0) spans(0) else spans(i) - spans(i - 1))
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the usual tail percentiles that leaves at least one
    * sample above it.
    */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (100 - p) / 100 >= 1).getOrElse(50.0)
}
