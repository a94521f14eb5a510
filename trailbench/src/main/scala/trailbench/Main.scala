package trailbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.GraftSession
import graft.parser.TrParser
import graft.trck.{Compiled, OutputJson, OutputMsgpack, OutputProto}
import graft.trck.LocalRunner.RunOutput

/** The output of one query in all three sinks. */
final case class Rendered(json: String, msgpack: Array[Byte], proto: Array[Byte]) {
  def bytes: Long = json.getBytes(UTF_8).length.toLong + msgpack.length + proto.length
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    Seq(json.getBytes(UTF_8), msgpack, proto).foreach { b =>
      md.update(java.nio.ByteBuffer.allocate(8).putLong(b.length.toLong).array()); md.update(b)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Rendered {
  def of(out: RunOutput, tr: Tracer): Rendered = {
    val grouped = out.prog.groupbyVars.nonEmpty && !out.prog.mergeResults
    Rendered(
      tr.span("render.json")(OutputJson.render(out.toOutputs, grouped)),
      tr.span("render.msgpack")(OutputMsgpack.render(out)),
      tr.span("render.proto")(OutputProto.render(out)))
  }
}

/** One timed query: program text in, rendered bytes out. */
final case class QueryRecord(
    qid: Int,
    family: String,
    seconds: Double,
    digest: Option[String],
    error: Option[String],
    bytes: Long,
    collectedRows: Long,
    counts: Option[Layers.Counts],
)

/** The benchmark: one closed-loop client issuing one query at a time.
  *
  * {{{
  * trailbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *                 [--commit <id>] [--spans <file>]
  * }}}
  *
  * Prints one JSON line describing the run, then the result line
  * `{"correct", "attempted", "failed", "metrics"}` last. Exits 1 if any
  * query failed or produced output its oracle disagrees with.
  */
object Main {
  val SetupReps = 3

  private implicit val formats: Formats = DefaultFormats

  /** One JSON object, keys in the given order. */
  def json(kv: (String, Any)*): String = Serialization.write(ListMap(kv: _*))

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, commit: String,
      spans: Option[Path])

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")).toAbsolutePath, m.getOrElse("commit", "unknown"),
      m.get("spans").map(Paths.get(_).toAbsolutePath))
    require(Workloads.names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workloads.names.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = GraftSession.builder(cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def runQuery(wl: Workload, f: Family, qid: Int, tr: Tracer): QueryRecord = {
    val t0 = System.nanoTime()
    try {
      val (out, counts, rendered) = tr.query(qid) {
        val program = tr.span("parser.parse")(TrParser.parse(f.text))
        val prog = tr.span("parser.compile")(Compiled.compile(program))
        val (out, counts) = wl.execute(f, prog, tr)
        (out, counts, Rendered.of(out, tr))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      QueryRecord(qid, f.name, secs, Some(rendered.digest), None, rendered.bytes,
        Layers.collectedRows(out), counts)
    } catch {
      case e: Exception =>
        QueryRecord(qid, f.name, (System.nanoTime() - t0) / 1e9, None,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), 0L, 0L, None)
    }
  }

  /** Queries in whole cycles of the workload's families until `seconds` pass. */
  def loop(wl: Workload, seconds: Double, firstQid: Int, tr: Tracer): Vector[QueryRecord] = {
    val out = Vector.newBuilder[QueryRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var qid = firstQid
    do {
      wl.families.foreach { f => out += runQuery(wl, f, qid, tr); qid += 1 }
    } while (System.nanoTime() < deadline)
    out.result()
  }

  /** A failure message per query that threw or whose output disagrees with
    * its family's oracle digest.
    */
  def check(records: Seq[QueryRecord], expected: Map[String, String]): Seq[(Int, String)] =
    records.flatMap { r =>
      (r.error, r.digest) match {
        case (Some(e), _) => Some(r.qid -> s"query ${r.qid} (${r.family}) threw $e")
        case (_, Some(d)) if !expected.get(r.family).contains(d) =>
          Some(r.qid -> s"query ${r.qid} (${r.family}) output differs from its oracle")
        case _ => None
      }
    }

  /** The oracle's output digest per family. Runs outside every timed span. */
  def expectedDigests(wl: Workload): Map[String, String] =
    wl.families.map { f =>
      val prog = Compiled.compile(TrParser.parse(f.text))
      f.name -> Rendered.of(wl.expected(f, prog), Tracer.Off).digest
    }.toMap

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parseArgs(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"trailbench: ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def run(args: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workloads(args.workload, args.seed)
    var spark: SparkSession = null

    // set-up, several times, each in a fresh session: session start, input
    // generation and parquet write, the prepared layout, and one warm-up
    // cycle of the query mix
    val setupPhases = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val dir = args.work.resolve(s"inputs$rep")
      val t0 = System.nanoTime()
      spark = session(cores, args.work)
      val t1 = System.nanoTime()
      wl.setup(spark, dir)
      val t2 = System.nanoTime()
      wl.families.zipWithIndex.foreach { case (f, i) =>
        val r = runQuery(wl, f, -1 - i, Tracer.Off)
        r.error.foreach(e => throw new IllegalStateException(s"warm-up query ${f.name} failed: $e"))
      }
      val t3 = System.nanoTime()
      if (rep > 0) deleteTree(args.work.resolve(s"inputs${rep - 1}"))
      Map("session" -> (t1 - t0) / 1e9, "inputs" -> (t2 - t1) / 1e9, "warmup" -> (t3 - t2) / 1e9,
        "total" -> (t3 - t0) / 1e9)
    }
    val setupSecs = setupPhases.map(_("total"))

    // the JIT keeps warming for several queries after set-up (driver-side
    // planning runs only a few thousand times per query): run untimed for
    // as long as the measurement before timing anything
    val w0 = System.nanoTime()
    loop(wl, args.seconds.toDouble, -1000000, Tracer.Off).flatMap(_.error).headOption
      .foreach(e => throw new IllegalStateException(s"warm-up query failed: $e"))
    val warmupSecs = (System.nanoTime() - w0) / 1e9

    val untracedSecs = if (args.trace) math.max(1.0, args.seconds / 2.0) else args.seconds.toDouble
    val untraced = loop(wl, untracedSecs, 0, Tracer.Off)

    var traced = Vector.empty[QueryRecord]
    var layer = Seq.empty[(String, Double, String)]
    var nondeterministic = Seq.empty[String]
    if (args.trace) {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer.On(spark.sparkContext)
      val gc0 = gcSeconds()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      traced = loop(wl, math.max(1.0, args.seconds / 2.0), untraced.length, tracer)
      val gc = gcSeconds() - gc0
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      org.apache.spark.TrailbenchBus.drain(spark.sparkContext)
      args.spans.foreach { p =>
        Files.createDirectories(p.getParent)
        Files.write(p, tracer.spans.map { s =>
          json("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "query" -> s.query,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs)
        }.asJava)
      }
      val (metrics, unstable) =
        LayerMetrics(wl, traced, untraced, tracer.spans.toSeq, listener, cores, gc, heapPeakMb)
      layer = metrics
      nondeterministic = unstable
    }

    val expected = expectedDigests(wl)
    val all = untraced ++ traced
    val failures = check(all, expected)
    // the N+1 bound is a property of the engine's work, not of its output:
    // it is reported beside the calls made, and does not fail the run
    val excessCalls = wl.matchCallBound.flatMap { b =>
      traced.flatMap(_.counts).map(_.matchCalls - b).maxOption
    }
    if (spark != null) spark.stop()
    deleteTree(args.work.resolve(s"inputs${SetupReps - 1}"))

    val failedQueries = failures.map(_._1).distinct.length
    val failedShare = failedQueries.toDouble / all.length
    val times = untraced.map(_.seconds)
    val totalSecs = times.sum
    val tailP = Stats.tailPercentile(times.length)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupSecs), "s"),
      ("query_s_p50", Stats.median(times), "s"),
      ("query_s_tail", Stats.percentile(times, tailP), "s"),
      ("events_per_s", untraced.map(r => wl.events(wl.family(r.family))).sum / totalSecs, "1/s"),
      ("trails_per_s", untraced.map(r => wl.trails(wl.family(r.family))).sum / totalSecs, "1/s"),
    )
    val metrics = if (args.trace) layer :+ (("failed_share", failedShare, "share")) else e2e

    val info = json(
      "benchmark" -> "trailbench", "workload" -> wl.name, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> (if (args.trace) 1 else 0),
      "commit" -> args.commit, "cores" -> cores,
      "client" -> "closed loop, one client, one query at a time",
      "input" -> wl.properties.toMap, "queries_timed" -> untraced.length,
      "query_s" -> untraced.map(_.seconds),
      "queries_traced" -> traced.length, "tail_percentile" -> tailP,
      "setup_runs_s" -> setupPhases, "warmup_s" -> warmupSecs, "failed_share" -> failedShare,
      "failures" -> failures.take(10).map(_._2), "nondeterministic_counts" -> nondeterministic,
      "match_call_bound" -> wl.matchCallBound.getOrElse(-1L),
      "match_calls_over_bound" -> excessCalls.getOrElse(0L),
      "spans_file" -> args.spans.filter(_ => args.trace)
        .map(p => Paths.get("").toAbsolutePath.relativize(p).toString).getOrElse(""),
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    println(info)
    failures.foreach(f => System.err.println(s"trailbench: ${f._2}"))
    val correct = failures.isEmpty
    println(json(
      "correct" -> correct, "attempted" -> all.length, "failed" -> failedQueries,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
    if (correct) 0 else 1
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
}

/** Per-layer metrics of a traced run. */
object LayerMetrics {
  /** Counts that must repeat exactly for one seed and family. */
  val Deterministic: Seq[String] = Seq(
    "match.calls", "emit.rows", "merge.collected_rows", "exchange.shuffle_records", "render.bytes")

  /** "family/metric" for every deterministic count that differed between
    * two traced queries of the same family.
    */
  def nondeterministic(perQuery: Seq[(String, Map[String, Double])]): Seq[String] =
    perQuery.groupBy(_._1).toSeq.flatMap { case (fam, ms) =>
      Deterministic.filter(k => ms.map(_._2(k)).distinct.length > 1).map(k => s"$fam/$k")
    }.sorted

  /** Per workload: the mean over families of each family's median. */
  def familyMean(values: Seq[(String, Double)]): Double = {
    val byFam = values.groupBy(_._1).values.map(vs => Stats.median(vs.map(_._2)))
    if (byFam.isEmpty) 0.0 else byFam.sum / byFam.size
  }

  def apply(
      wl: Workload,
      traced: Seq[QueryRecord],
      untraced: Seq[QueryRecord],
      spans: Seq[Span],
      listener: LayerListener,
      cores: Int,
      gcSecs: Double,
      heapPeakMb: Double,
  ): (Seq[(String, Double, String)], Seq[String]) = {
    val ok = traced.filter(_.counts.isDefined)
    val byQuery = spans.groupBy(_.query)
    // per query: metric -> value
    val perQuery: Seq[(String, Map[String, Double])] = ok.map { r =>
      val ss = byQuery.getOrElse(r.qid, Nil)
      def dur(n: String): Double = ss.filter(_.name == n).map(_.seconds).sum
      def cnt(n: String): SpanCounts = listener.of(ss.filter(_.name == n).map(_.id))
      val c = r.counts.get
      val hasExchange = ss.exists(_.name == "exchange")
      val Seq(scan, exchange, matchS, merge) =
        SelfTime.cumulative(Seq(dur("scan"), if (hasExchange) dur("exchange") else dur("scan"),
          dur("match"), dur("merge")))
      val matched = cnt("match")
      val merged = cnt("merge")
      val whole = listener.of(ss.map(_.id))
      val f = wl.family(r.family)
      val trails = wl.trails(f).toDouble
      r.family -> Map(
        "parser.parse_s" -> dur("parser.parse"),
        "parser.compile_s" -> dur("parser.compile"),
        "engine.lexicon_s" -> dur("engine.lexicon"),
        "engine.lexicon_values" -> c.lexiconValues.toDouble,
        "scan.s" -> scan,
        // file scans report the files' size; a cached layout reports the
        // block bytes its tasks read
        "scan.bytes_read" ->
          (if (c.scanFileBytes > 0) c.scanFileBytes else cnt("scan").bytesRead).toDouble,
        "scan.rows" -> c.scanRows.toDouble,
        "exchange.s" -> exchange,
        "exchange.shuffle_bytes" -> matched.shuffleBytes.toDouble,
        "exchange.shuffle_records" -> matched.shuffleRecords.toDouble,
        "exchange.spill_bytes" -> matched.spillBytes.toDouble,
        "match.s" -> matchS,
        "match.calls" -> c.matchCalls.toDouble,
        "match.calls_per_trail" -> c.matchCalls / trails,
        "match.trails" -> trails,
        "engine.sentinel_rows" -> wl.sentinelRows(f).toDouble,
        "emit.rows" -> c.emitRows.toDouble,
        "emit.rows_per_trail" -> c.emitRows / trails,
        "merge.s" -> merge,
        "merge.jobs" -> (merged.jobs - matched.jobs).toDouble,
        "merge.shuffle_bytes" -> math.max(0L, merged.shuffleBytes - matched.shuffleBytes).toDouble,
        "merge.collected_rows" -> r.collectedRows.toDouble,
        "render.json_s" -> dur("render.json"),
        "render.msgpack_s" -> dur("render.msgpack"),
        "render.proto_s" -> dur("render.proto"),
        "render.bytes" -> r.bytes.toDouble,
        "spark.jobs" -> whole.jobs.toDouble,
        "spark.tasks" -> whole.tasks.toDouble,
      )
    }
    // a count that should repeat is taken from each family's first query,
    // never averaged; any that did not repeat is reported by name
    def layer(k: String): Double =
      if (Deterministic.contains(k))
        familyMean(perQuery.groupBy(_._1).toSeq.map { case (f, ms) => f -> ms.head._2(k) })
      else familyMean(perQuery.map { case (f, m) => f -> m(k) })
    val units = Seq(
      "parser.parse_s" -> "s", "parser.compile_s" -> "s", "engine.lexicon_s" -> "s",
      "engine.lexicon_values" -> "count", "engine.sentinel_rows" -> "count", "scan.s" -> "s",
      "scan.bytes_read" -> "bytes", "scan.rows" -> "count", "exchange.s" -> "s",
      "exchange.shuffle_bytes" -> "bytes", "exchange.shuffle_records" -> "count",
      "exchange.spill_bytes" -> "bytes", "match.s" -> "s", "match.calls" -> "count",
      "match.calls_per_trail" -> "calls/trail", "match.trails" -> "count", "emit.rows" -> "count",
      "emit.rows_per_trail" -> "rows/trail", "merge.s" -> "s", "merge.jobs" -> "count",
      "merge.shuffle_bytes" -> "bytes", "merge.collected_rows" -> "count",
      "render.json_s" -> "s", "render.msgpack_s" -> "s", "render.proto_s" -> "s",
      "render.bytes" -> "bytes", "spark.jobs" -> "count", "spark.tasks" -> "count")
    // layers a workload builds once in set-up (prepared layouts, the
    // multi-source union feeding one) report their set-up figures
    def setupOr(k: String, otherwise: Double): Double = wl.setupLayers.getOrElse(k, otherwise)
    val tracedWall = ok.map(_.seconds).sum
    val runNs = ok.map(r => listener.of(byQuery.getOrElse(r.qid, Nil).map(_.id)).runNs).sum
    val metrics = units.map { case (k, u) => (k, layer(k), u) } ++ Seq(
      ("engine.sources_s", setupOr("engine.sources_s", 0.0), "s"),
      ("prepare.s", setupOr("prepare.s", 0.0), "s"),
      ("prepare.stored_bytes", setupOr("prepare.stored_bytes", 0.0), "bytes"),
      ("spark.busy_share", if (tracedWall > 0) runNs / 1e9 / (tracedWall * cores) else 0.0, "share"),
      ("jvm.gc_s", if (ok.isEmpty) 0.0 else gcSecs / ok.length, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_s",
        familyMean(ok.map(r => r.family -> r.seconds)) - familyMean(untraced.map(r => r.family -> r.seconds)),
        "s"),
    )
    (metrics, nondeterministic(perQuery))
  }
}
