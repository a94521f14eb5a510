package graft.trck

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.TrParser
import graft.trck.LocalRunner.{Db, ForeachTuple, RawEvent}

/** The reference bounds the foreach loop at N+1 match calls per trail for
  * N distinct foreach values present in the trail
  * (src/match_traildb.c:596-608): one run per present value plus ONE run
  * shared by every absent value. The implicit sweep's leading "" tuple is
  * itself absent, so its run must be that shared one.
  */
class MatchCallBoundSpec extends AnyFunSuite {

  // test/perf/perftest1.tr
  private val prog = Compiled.compile(TrParser.parse(
    """foreach %aeid
      |    start ->
      |        receive
      |            advertisable_eid = %aeid -> yield $r, repeat
      |            * -> repeat
      |""".stripMargin))

  // the perftest1 lexicon: "" first, then the 100 advertisable_eid values
  private val tuples =
    ("" +: (0 until 100).map(_.toString).sorted).map(v => ForeachTuple(Vector(Left(v)))).toVector

  /** perftest1's cookie `i`: 200 events over two timestamp ranges, cycling
    * through `seg` distinct advertisable_eid values.
    */
  private def trail(seg: Int): Seq[RawEvent] =
    for (db <- 0 until 2; j <- 0 until 100)
      yield RawEvent(1000000L + db * 100000L + j,
        Map("advertisable_eid" -> (j % seg).toString, "segment_eid" -> seg.toString))

  for (seg <- Seq(1, 2, 37, 99)) {
    test(s"perftest1 trail with $seg distinct values makes at most N+1 match calls") {
      val before = TrailMatcher.matchCalls.sum()
      val out = LocalRunner.run(prog, Seq(Db(Seq("c" -> trail(seg)))), foreachTuples = Some(tuples))
      val calls = TrailMatcher.matchCalls.sum() - before
      assert(calls <= seg + 1, s"$calls match calls for N=$seg present values")
      // the shared absent-value run yields nothing for any absent tuple
      val counts = tuples.indices.map(j => out.results(j).counters.getOrElse("r", 0L))
      val expected = tuples.map { t =>
        val Left(v) = t.items.head: @unchecked
        if (v.nonEmpty && v.toInt < seg) (0 until 100).count(_ % seg == v.toInt) * 2L else 0L
      }
      assert(counts == expected)
    }
  }
}
