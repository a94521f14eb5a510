package trailbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.PerfFixture
import graft.parser.TrParser
import graft.trck.{Compiled, Ir, LocalRunner}
import graft.trck.LocalRunner.{Db, RawEvent}

class TrailBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def digest(out: LocalRunner.RunOutput): String = Rendered.of(out, Tracer.Off).digest

  test("generators are deterministic for a seed and differ across seeds") {
    assert(PreparedMix.generate(7, 20) == PreparedMix.generate(7, 20))
    assert(PreparedMix.generate(7, 20) != PreparedMix.generate(8, 20))
    assert(MultiDbWindow.generate(7, 30) == MultiDbWindow.generate(7, 30))
    assert(MultiDbWindow.generate(7, 30) != MultiDbWindow.generate(8, 30))
    assert(MultiDbWindow.generate(7, 30).windows.entries.nonEmpty)

    // the written parquet files hold the same rows in the same order for one
    // seed: part number -> rows
    def written(seed: Long): Map[String, Seq[String]] = {
      val dir = Files.createTempDirectory("trailbench-gen").resolve("p")
      Workloads.writeParquet(Perftest1.frame(spark, 30, seed), dir, 3, seed, Seq("uuid", "ts"))
      spark.read.parquet(dir.toString)
        .withColumn("f", org.apache.spark.sql.functions.input_file_name())
        .collect().toSeq
        .groupBy(r => "part-\\d+".r.findFirstIn(r.getString(4)).get)
        .map { case (part, rows) => part -> rows.map(_.toSeq.take(4).mkString("|")) }
    }
    val a = written(7)
    assert(a.values.map(_.length).sum == 30 * 200)
    assert(a == written(7))
    assert(a.values.flatten.map(_.split('|').head).toSet !=
      written(8).values.flatten.map(_.split('|').head).toSet)
  }

  test("perftest1 text parses to PerfFixture.program") {
    // a clause without an action defaults to repeat in the compiler, which
    // is what the parser writes out explicitly
    def normalize(p: Ir.Program) = p.copy(rules = p.rules.map(r =>
      r.copy(clauses = r.clauses.map(c => c.copy(action = c.action.orElse(Some("repeat")))))))
    assert(normalize(TrParser.parse(Perftest1.Text)) == normalize(PerfFixture.program))
  }

  test("perftest1 analytic oracle agrees with LocalRunner on the generated trails") {
    val n = 150 // covers every segment value, so the lexicon is complete
    val prog = Compiled.compile(TrParser.parse(Perftest1.Text))
    val trails = Perftest1.frame(spark, n, 3).collect().toSeq
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (uuid, rows) =>
        uuid -> rows.sortBy(_.getLong(1)).map(r => RawEvent(r.getLong(1),
          Map("advertisable_eid" -> r.getString(2), "segment_eid" -> r.getString(3))))
      }
    val local = LocalRunner.run(prog, Seq(Db(trails)))
    assert(digest(local) == digest(Perftest1.oracle(prog, n)))
    assert(Perftest1.counts(n).size == 100)
  }

  test("a wrong expected value fails the check") {
    val prog = Compiled.compile(TrParser.parse(Perftest1.Text))
    val right = Perftest1.oracle(prog, 120)
    val wrong = Perftest1.oracle(prog, 120)
    wrong.results(5).counters("r") += 1
    val record = QueryRecord(0, "perftest1", 1.0, Some(digest(right)), None, 0L, 0L, None)
    assert(Main.check(Seq(record), Map("perftest1" -> digest(right))).isEmpty)
    val failures = Main.check(Seq(record), Map("perftest1" -> digest(wrong)))
    assert(failures.map(_._1) == Seq(0))
    // a query that threw is a failure too
    val threw = record.copy(qid = 1, digest = None, error = Some("boom"))
    assert(Main.check(Seq(threw), Map("perftest1" -> digest(right))).map(_._1) == Seq(1))
  }

  test("self time of a cumulative split is each span minus the previous one") {
    val layers = SelfTime.cumulative(Seq(1.0, 3.5, 6.0, 6.25))
    assert(layers.zip(Seq(1.0, 2.5, 2.5, 0.25)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(SelfTime.cumulative(Seq(2.0)) == Seq(2.0))
  }

  test("percentiles interpolate and the tail percentile follows the sample count") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.median(xs) == 6.0)
    assert(Stats.percentile(xs, 90) == 10.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    assert(Stats.tailPercentile(3) == 50.0)
    assert(Stats.tailPercentile(4) == 75.0)
    assert(Stats.tailPercentile(10) == 90.0)
    assert(Stats.tailPercentile(20) == 95.0)
    assert(Stats.tailPercentile(100) == 99.0)
  }

  test("every prepared_mix family matches its LocalRunner oracle, traced or not") {
    val wl = new PreparedMix(5, 60, 80)
    wl.setup(spark, Files.createTempDirectory("trailbench-e2e"))
    val expected = Main.expectedDigests(wl)
    val tracer = new Tracer.On(spark.sparkContext)
    val records = wl.families.indices.flatMap { i =>
      Seq(Main.runQuery(wl, wl.families(i), 2 * i, Tracer.Off),
        Main.runQuery(wl, wl.families(i), 2 * i + 1, tracer))
    }
    assert(records.forall(_.error.isEmpty), records.flatMap(_.error))
    assert(Main.check(records, expected).isEmpty)
    assert(records.filter(_.qid % 2 == 1).forall(_.counts.exists(_.matchCalls > 0)))
    assert(tracer.spans.map(_.name).toSet.contains("merge"))
  }
}
