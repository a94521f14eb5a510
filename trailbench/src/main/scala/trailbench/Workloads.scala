package trailbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.engine.{TrailEngine, TrckSparkRunner}
import graft.engine.TrckSparkRunner.EngineFilters
import graft.trck.{LocalRunner, Results}
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.Bindings
import graft.trck.LocalRunner.{CnfFilter, Db, ForeachTuple, RawEvent, RunOutput, WindowEntry, WindowSet}

/** One query family: program text plus the params it runs with. */
final case class Family(
    name: String,
    text: String,
    params: Bindings = Bindings(),
    tuples: Option[Vector[ForeachTuple]] = None,
)

/** A workload: seeded inputs written to parquet, a fixed cycle of query
  * families, and the expected output of each family.
  */
trait Workload {
  def name: String
  def families: IndexedSeq[Family]
  def family(name: String): Family = families.find(_.name == name).get
  /** Generate the inputs under `dir`, write them, and build any layout the
    * queries read. Runs once per set-up repetition, in a fresh session.
    */
  def setup(spark: SparkSession, dir: Path): Unit
  /** The engine part of one query, between compile and render. */
  def execute(f: Family, prog: CompiledProgram, tr: Tracer): (RunOutput, Option[Layers.Counts])
  /** The output a correct engine renders for `f`, from an oracle that
    * does not use Spark.
    */
  def expected(f: Family, prog: CompiledProgram): RunOutput
  /** Input events one query of `f` reads. */
  def events(f: Family): Long
  /** Trails one query of `f` hands to the matcher. */
  def trails(f: Family): Long
  /** Zero-event presence rows in the input of one query of `f`. */
  def sentinelRows(f: Family): Long = 0L
  /** Input properties recorded beside the metrics. */
  def properties: Seq[(String, Any)]
  /** Per-layer metrics of the last set-up (prepared layouts). */
  def setupLayers: Map[String, Double] = Map.empty
  /** Upper bound on match calls per query (the N+1 bound), where known. */
  def matchCallBound: Option[Long] = None
}

object Workloads {
  val names: Seq[String] = Seq("perftest1", "prepared_mix")

  def apply(name: String, seed: Long): Workload = name match {
    case "perftest1"    => new Perftest1(seed, Perftest1.Trails)
    case "prepared_mix" => new PreparedMix(seed, PreparedMix.Trails, MultiDbWindow.Cookies)
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Write `df` as `files` parquet files in a seeded row order. */
  def writeParquet(df: DataFrame, path: Path, files: Int, seed: Long, key: Seq[String]): Long = {
    val keyCols = key.map(col)
    df.repartition(files, xxhash64(lit(seed) +: keyCols: _*))
      .sortWithinPartitions(xxhash64(lit(seed + 1) +: keyCols: _*))
      .write.mode("overwrite").parquet(path.toString)
    Files.walk(path).iterator.asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
  }

  /** Trails as rows: uuid, ts, then one column per field, in `fields` order. */
  def toFrame(spark: SparkSession, trails: Seq[(String, Seq[RawEvent])], fields: Seq[(String, DataType)]): DataFrame = {
    val schema = StructType(
      StructField("uuid", StringType) +: StructField("ts", LongType) +:
        fields.map { case (f, t) => StructField(f, t) })
    val rows = trails.flatMap { case (uuid, evs) =>
      evs.map { e =>
        Row.fromSeq(uuid +: e.ts +: fields.map {
          case (f, LongType) => e.fields(f).toLong
          case (f, _)        => e.fields(f)
        })
      }
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Unique 16-hex-digit cookie ids, permuted by the seed. */
  def cookieIds(rnd: Random, n: Int): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) seen += f"${rnd.nextLong()}%016x"
    seen.toIndexedSeq
  }

  def spread(counts: Seq[Int]): Map[String, Double] = {
    val xs = counts.map(_.toDouble)
    Map("min" -> xs.min, "p50" -> Stats.median(xs), "p90" -> Stats.percentile(xs, 90), "max" -> xs.max)
  }
}

/** The reference's perf fixture (perftest1: 200 events per trail over two
  * timestamp ranges, `advertisable_eid`/`segment_eid`, an implicit
  * `foreach %aeid` over about 101 values and a counter yield), as in
  * `graft.PerfFixture`, at `nTrails` trails. The seed permutes cookie ids
  * and the parquet row order; the counts do not depend on it.
  */
final class Perftest1(seed: Long, nTrails: Int) extends Workload {
  def name = "perftest1"
  val families = Vector(Family("perftest1", Perftest1.Text))
  private var spark: SparkSession = _
  private var path: Path = _
  private var parquetBytes = 0L

  def setup(s: SparkSession, dir: Path): Unit = {
    spark = s
    path = dir.resolve("perftest1")
    parquetBytes = Workloads.writeParquet(Perftest1.frame(s, nTrails, seed), path, 8, seed, Seq("uuid", "ts"))
  }

  def execute(f: Family, prog: CompiledProgram, tr: Tracer): (RunOutput, Option[Layers.Counts]) =
    Layers.run(EngineCall(prog, spark.read.parquet(path.toString)), tr)

  def expected(f: Family, prog: CompiledProgram): RunOutput = Perftest1.oracle(prog, nTrails)
  def events(f: Family): Long = nTrails * 200L
  def trails(f: Family): Long = nTrails.toLong
  override def matchCallBound: Option[Long] = Some(Perftest1.nPlusOneBound(nTrails))
  def properties: Seq[(String, Any)] = {
    val values = Perftest1.counts(nTrails).size
    Seq("trails" -> nTrails, "events" -> nTrails * 200L,
      "events_per_trail" -> Map("min" -> 200, "p50" -> 200, "p90" -> 200, "max" -> 200),
      "foreach_values" -> values, "tuples" -> (values + 1), "sources" -> 1, "window_entries" -> 0,
      "parquet_bytes" -> parquetBytes)
  }
}

object Perftest1 {
  val Trails = 3000

  /** perftest1.tr: it parses to `graft.PerfFixture.program`. */
  val Text: String =
    """foreach %aeid
      |    start ->
      |        receive
      |            advertisable_eid = %aeid -> yield $r, repeat
      |            * -> repeat
      |""".stripMargin

  private def seg(i: Long): Long = (i + 1) % 100 + 1

  /** The generator, distributed like `graft.PerfFixture`'s. */
  def frame(spark: SparkSession, trails: Int, seed: Long): DataFrame =
    spark.range(trails.toLong)
      .select(col("id").as("cookie"),
        substring(sha2(concat(lit(s"$seed:"), col("id").cast("string")), 256), 1, 16).as("uuid"))
      .withColumn("db", explode(array(lit(0), lit(1))))
      .withColumn("j", explode(sequence(lit(0), lit(99))))
      .select(
        col("uuid"),
        (lit(1000000L) + col("db") * 100000L + col("j")).as("ts"),
        pmod(col("j"), pmod(col("cookie") + 1, lit(100)) + 1).cast("string").as("advertisable_eid"),
        (pmod(col("cookie") + 1, lit(100)) + 1).cast("string").as("segment_eid"))

  /** The generator's analytic counts: events per `advertisable_eid` value. */
  def counts(trails: Int): Map[String, Long] = {
    val c = mutable.Map[String, Long]().withDefaultValue(0L)
    for (i <- 0 until trails; j <- 0 until 100) c(s"${j % seg(i)}") += 2L
    c.toMap
  }

  /** The expected output: one tuple per lexicon value ("" first), each
    * counting the events that carry it.
    */
  def oracle(prog: CompiledProgram, trails: Int): RunOutput = {
    val c = counts(trails)
    val tuples = ("" +: c.keys.toVector.sorted).map(v => ForeachTuple(Vector(Left(v))))
    val results = tuples.map { t =>
      val r = new Results(prog)
      val Left(v) = t.items.head: @unchecked
      c.get(v).foreach { n => r.counters("r") = n; r.touched = true }
      r
    }
    RunOutput(prog, tuples, results, merged = false)
  }

  /** N+1 match calls per trail, N the distinct `advertisable_eid` values in it. */
  def nPlusOneBound(trails: Int): Long = (0 until trails).map(i => seg(i) + 1).sum
}

/** Many short trails shaped like sf0.1 `events`, clustered once into a
  * persisted prepared layout; each query runs one family of a fixed mix of
  * reference programs with `runRaw(prepared = true)`. The last family,
  * `multidb_window`, reads three sequential sources through a window file,
  * an exclude list and a CNF filter, from a prepared layout of their union:
  * the engine's general iteration path.
  */
final class PreparedMix(seed: Long, nTrails: Int, cookies: Int) extends Workload {
  import PreparedMix._
  def name = "prepared_mix"
  val families: IndexedSeq[Family] = PreparedMix.families :+ MultiDbWindow.family
  private val data = generate(seed, nTrails)
  private val multi = MultiDbWindow.generate(seed, cookies)
  private var layout: DataFrame = _
  private var multiLayout: DataFrame = _
  private var cuts: Array[Long] = Array.empty
  private var parquetBytes = 0L
  private var layers = Map.empty[String, Double]

  private def isMulti(f: Family) = f.name == MultiDbWindow.family.name

  def setup(spark: SparkSession, dir: Path): Unit = {
    val path = dir.resolve("events")
    val paths = multi.sources.indices.map(k => dir.resolve(s"source$k"))
    parquetBytes = Workloads.writeParquet(
      Workloads.toFrame(spark, data, Fields), path, 4, seed, Seq("uuid", "event_id")) +
      multi.sources.zip(paths).map { case (db, p) =>
        Workloads.writeParquet(
          Workloads.toFrame(spark, db.trails, MultiDbWindow.Fields), p, 2, seed, Seq("uuid", "seq"))
      }.sum
    val t0 = System.nanoTime()
    layout = TrailEngine.prepare(spark.read.parquet(path.toString), "uuid", "ts", Seq("event_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    layout.count()
    val t1 = System.nanoTime()
    val (union, c, presence) = TrckSparkRunner.unionSourcesWithPresence(
      paths.map(p => spark.read.parquet(p.toString)), "ts", "uuid")
    val t2 = System.nanoTime()
    cuts = c
    multiLayout = TrailEngine.prepare(union, "uuid", "ts", Seq("seq"), Some("__src"), Some(presence))
      .persist(StorageLevel.MEMORY_AND_DISK)
    multiLayout.count()
    val t3 = System.nanoTime()
    layers = Map(
      "prepare.s" -> ((t1 - t0) + (t3 - t2)) / 1e9,
      "prepare.stored_bytes" ->
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
      "engine.sources_s" -> (t2 - t1) / 1e9)
  }

  def execute(f: Family, prog: CompiledProgram, tr: Tracer): (RunOutput, Option[Layers.Counts]) =
    if (!isMulti(f))
      Layers.run(EngineCall(prog, layout, Seq("event_id"), f.params, f.tuples, prepared = true), tr)
    else {
      val s = multiLayout.sparkSession
      import s.implicits._
      val filters = EngineFilters(
        cnf = TrckSparkRunner.cnfColumn(MultiDbWindow.Cnf.clauses, multiLayout),
        windows = Some(multi.windows),
        exclude = Some(multi.exclude.toSeq.toDF("uuid")))
      Layers.run(EngineCall(prog, multiLayout, Seq("seq"), f.params, f.tuples, filters, cuts,
        prepared = true), tr)
    }

  def expected(f: Family, prog: CompiledProgram): RunOutput =
    if (!isMulti(f)) LocalRunner.run(prog, Seq(Db(data)), f.params, f.tuples)
    else LocalRunner.run(prog, multi.sources, f.params, f.tuples, Some(MultiDbWindow.Cnf),
      Some(multi.windows), multi.exclude)

  private val dataEvents = data.map(_._2.length.toLong).sum
  def events(f: Family): Long = if (isMulti(f)) multi.events else dataEvents
  def trails(f: Family): Long = if (isMulti(f)) multi.matchedTrails else nTrails.toLong
  // `prepare` bakes in one presence row per trail and source
  override def sentinelRows(f: Family): Long =
    if (isMulti(f)) multi.sources.map(_.trails.length.toLong).sum else nTrails.toLong
  override def setupLayers: Map[String, Double] = layers
  def properties: Seq[(String, Any)] = Seq(
    "trails" -> nTrails, "events" -> dataEvents,
    "events_per_trail" -> Workloads.spread(data.map(_._2.length)),
    "foreach_values" -> data.iterator.flatMap(_._2.map(_.fields("page"))).toSet.size,
    "tuples" -> families.flatMap(_.tuples).map(_.length).sum,
    "parquet_bytes" -> parquetBytes, "families" -> families.map(_.name),
    "multidb_window" -> multi.properties)
}

object PreparedMix {
  val Trails = 1500
  val Fields: Seq[(String, DataType)] =
    Seq("event_id" -> LongType, "event_type" -> StringType, "page" -> StringType)
  private val types = Vector("view" -> 50, "click" -> 20, "search" -> 10, "add_to_cart" -> 10,
    "signup" -> 5, "purchase" -> 5)
  private val typeTable = types.flatMap { case (t, w) => Vector.fill(w)(t) }

  /** About 70 events per trail (10 to 130), an enum `event_type`, a unique
    * tiebreak `event_id`, equal timestamps now and then, session gaps,
    * and a high-cardinality, skewed `page`.
    */
  def generate(seed: Long, trails: Int): Vector[(String, Vector[RawEvent])] = {
    val rnd = new Random(seed)
    var id = 0L
    Workloads.cookieIds(rnd, trails).map { uuid =>
      var ts = 1600000000L + rnd.nextInt(30 * 86400)
      val evs = Vector.fill(10 + rnd.nextInt(121)) {
        val gap = rnd.nextInt(20) match {
          case 0 => 0
          case 1 => 1800 + rnd.nextInt(7200)
          case _ => 1 + rnd.nextInt(300)
        }
        ts += gap; id += 1
        RawEvent(ts, Map(
          "event_id" -> id.toString,
          "event_type" -> typeTable(rnd.nextInt(typeTable.length)),
          "page" -> s"p${rnd.nextInt(rnd.nextInt(20000) + 1)}"))
      }
      uuid -> evs
    }.toVector
  }

  val families: Vector[Family] = Vector(
    Family("m1_counter",
      """start ->
        |    receive
        |        event_type = "click" -> yield $clicks, repeat
        |        * -> repeat
        |""".stripMargin),
    Family("m1_funnel",
      """start ->
        |    receive
        |        event_type = "signup" -> paid
        |        * -> repeat
        |paid ->
        |    receive
        |        event_type = "purchase" -> yield $conv, quit
        |        * -> repeat
        |""".stripMargin),
    Family("m2_after",
      """start ->
        |    receive
        |        event_type = "search" -> yield $sessions, session
        |        * -> repeat
        |session ->
        |    receive
        |        event_type = "purchase" -> yield $converted, quit
        |        * -> repeat
        |    after 30m -> yield $lapsed, start
        |""".stripMargin),
    Family("sets",
      """start ->
        |    receive
        |        event_type = "purchase" -> yield page to #bought, repeat
        |        event_type = "add_to_cart" -> yield event_type, page to &carted, repeat
        |        * -> repeat
        |""".stripMargin),
    Family("hll",
      """start ->
        |    receive
        |        event_type = "view" -> yield page to ^viewed, repeat
        |        * -> repeat
        |""".stripMargin),
    Family("scalar_param",
      """start ->
        |    receive
        |        event_type = %t -> yield $matched, repeat
        |        * -> repeat
        |""".stripMargin,
      params = Bindings(Map("t" -> "add_to_cart"))),
    Family("foreach_1k",
      """foreach %p in @pages
        |    start ->
        |        receive
        |            page = %p -> yield $hits, repeat
        |            * -> repeat
        |""".stripMargin,
      tuples = Some((0 until 1000).map(i => ForeachTuple(Vector(Left(s"p$i")))).toVector)),
  )
}

/** The inputs of the `multidb_window` family: the corpus split into three
  * sequential sources whose timestamp ranges overlap (so min_ts cuts
  * apply), a window file that lists some cookies several times, and an
  * exclude list.
  */
final case class MultiDbInputs(sources: Vector[Db], windows: WindowSet, exclude: Set[String]) {
  val events: Long = sources.map(_.trails.map(_._2.length.toLong).sum).sum
  private val inputTrails = sources.flatMap(_.trails.map(_._1)).toSet
  /** Trails the matcher runs: windowed, not excluded, present in a source. */
  val matchedTrails: Long = (windows.entries.map(_.cookie).toSet -- exclude).count(inputTrails).toLong
  def properties: Map[String, Any] = Map(
    "trails" -> inputTrails.size, "matched_trails" -> matchedTrails, "events" -> events,
    "events_per_trail" -> Workloads.spread(sources.flatMap(_.trails.map(_._2.length))),
    "foreach_values" -> MultiDbWindow.Campaigns.length, "sources" -> sources.length,
    "window_entries" -> windows.entries.length,
    "windowed_cookies" -> windows.entries.map(_.cookie).distinct.length,
    "excluded_cookies" -> exclude.size)
}

object MultiDbWindow {
  val Cookies = 1000
  val Sources = 3
  val Fields: Seq[(String, DataType)] =
    Seq("seq" -> LongType, "event_type" -> StringType, "campaign" -> StringType, "channel" -> StringType)
  val Campaigns: Vector[ForeachTuple] = (0 until 8).map(i => ForeachTuple(Vector(Left(s"c$i")))).toVector
  val Cnf: CnfFilter = CnfFilter(Seq(
    Seq(("event_type", "noise", false)),
    Seq(("channel", "web", true), ("channel", "app", true))))

  val family: Family = Family("multidb_window",
    """foreach %c in @campaigns
      |    start ->
      |        receive
      |            event_type = "imp", campaign = %c -> engaged
      |            * -> repeat
      |    engaged ->
      |        receive
      |            event_type = "click", campaign = %c -> yield $clicks, repeat
      |            event_type = "conv" -> yield $conv, quit
      |            * -> repeat
      |        after 1h -> yield $lapsed, start
      |""".stripMargin,
    tuples = Some(Campaigns))

  private val Base = 1000000L
  private val Width = 100000L
  private val Step = 80000L // < Width: consecutive sources overlap

  /** Sources, the window file and the exclude list. Each cookie appears in
    * each source with probability 0.7; 40% of cookies are windowed with 1
    * to 3 entries (extra entries get their own ids); 5% are excluded.
    */
  def generate(seed: Long, cookies: Int): MultiDbInputs = {
    val rnd = new Random(seed)
    val ids = Workloads.cookieIds(rnd, cookies)
    var seq = 0L
    val sources = (0 until Sources).map { k =>
      Db(ids.flatMap { c =>
        if (rnd.nextInt(10) >= 7) None
        else {
          val n = 10 + rnd.nextInt(41)
          val tss = Vector.fill(n)(Base + k * Step + rnd.nextInt(Width.toInt).toLong).sorted
          Some(c -> tss.map { ts =>
            seq += 1
            RawEvent(ts, Map(
              "seq" -> seq.toString,
              "event_type" -> Vector("imp", "imp", "click", "conv", "noise")(rnd.nextInt(5)),
              "campaign" -> s"c${rnd.nextInt(8)}",
              "channel" -> Vector("web", "app", "tv")(rnd.nextInt(3))))
          })
        }
      })
    }.toVector
    val end = Base + (Sources - 1) * Step + Width
    val entries = ids.filter(_ => rnd.nextInt(10) < 4).flatMap { c =>
      (0 until 1 + rnd.nextInt(3)).map { e =>
        val lo = if (rnd.nextInt(5) == 0) 0L else Base + rnd.nextInt((end - Base).toInt).toLong
        val hi = if (rnd.nextInt(5) == 0) 0L else math.max(lo, Base) + rnd.nextInt(120000).toLong
        WindowEntry(if (e == 0) c else s"$c:$e", c, lo, hi)
      }
    }
    val exclude = ids.filter(_ => rnd.nextInt(20) == 0).toSet
    MultiDbInputs(sources, WindowSet(entries), exclude)
  }
}
