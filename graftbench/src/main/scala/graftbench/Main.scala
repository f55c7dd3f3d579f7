package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** One benchmark run in one JVM: set up, then a closed loop with one
  * client that runs rounds of the workload's queries in seeded order,
  * each query cold then warm, while a whole round fits in `--seconds`
  * (at least one round), and writes the result JSON.
  *
  * {{{
  * graftbench.Main --workload W --data DIR --queries q1,q2 --seed N
  *   --seconds S --trace 0|1 --expected FILE --out FILE [--record 1]
  * }}}
  *
  * With `--trace 1` the run makes four rounds: traced (the per-layer
  * metrics and spans), untraced, traced, untraced; the last two give the
  * tracing overhead on the same queries in the same JVM.
  */
object Main {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** graft.Bench's box-speed calibration (parallel xxhash64 fold over a
    * range; no I/O, no shuffle) on a quarter of its range, timed once
    * after the measured rounds. */
  val CalibRows = 100000000L

  def isMedia(q: String): Boolean =
    Seq("x_mm_", "x_audio_", "x_video_").exists(q.startsWith)

  private def now: Long = System.currentTimeMillis()

  def readExpected(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  /** Median over rounds of each round's summed pass time. */
  def roundMedian(passes: Seq[Pass], label: String): Double =
    Stats.median(passes.filter(_.label == label)
      .groupBy(_.round).values.map(_.map(_.totalS).sum).toSeq)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = opt("data")
    val queries = opt("queries").split(',').toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val record = opt.get("record").contains("1")
    val expected = if (record) Map.empty[String, String] else readExpected(Paths.get(opt("expected")))
    val registry = graft.SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val heap = new HeapMonitor

    // Set-up, several times: the first from JVM start, the others after
    // stopping the session, so work moved into set-up shows in each.
    var spark: SparkSession = null
    val setupRecs = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) ManagementFactory.getRuntimeMXBean.getStartTime else now
      val b0 = now
      spark = graft.Sessions.build()
      val r0 = now
      TableNames.foreach(graft.Tables.t(spark, dataDir, _))
      val w0 = now
      Fingerprint.of(graft.ops.AggQueries.groupAgg(spark, dataDir))
      val end = now
      println(s"[graftbench] setup $i: ${end - t0} ms")
      Map("setup_s" -> (end - t0) / 1e3, "build_s" -> (r0 - b0) / 1e3,
        "resolve_s" -> (w0 - r0) / 1e3, "warmup_s" -> (end - w0) / 1e3)
    }
    val setupMedians = setupRecs.head.keys.map(k => k -> Stats.median(setupRecs.map(_(k)))).toMap

    val harness = new Harness(spark, dataDir, expected, record)
    val tracer = new Tracer
    val passes = ArrayBuffer.empty[Pass]
    val runStart = now
    val deadline = runStart + (seconds * 1000).toLong
    val roundMs = ArrayBuffer.empty[Long]
    def runRound(round: Int, traced: Boolean): Unit = {
      val r0 = now
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      new scala.util.Random(seed * 7919L + round).shuffle(queries).foreach { q =>
        passes ++= harness.coldWarm(q, registry(q), round, traced)
      }
      if (traced) {
        tracer.drain()
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      roundMs += now - r0
      println(s"[graftbench] round $round${if (traced) " (traced)" else ""}: ${roundMs.last} ms")
    }
    heap.active = true
    if (trace) {
      // Round 1 traced: the per-layer metrics, from the same kind of round
      // the untraced runs report. Round 2 finishes the JIT warm-up (it ran
      // up to 20% slower than rounds 3 and 4); round 3 (traced) against
      // round 4 (untraced) gives the tracing overhead, erring high since
      // any warm-up left favours round 4.
      Seq(1 -> true, 2 -> false, 3 -> true, 4 -> false).foreach { case (r, t) => runRound(r, t) }
    } else {
      // Round 1 always runs; another only if a whole round still fits. The
      // first round's cold passes also pay JIT compilation for the code
      // paths the warm-up did not reach, as a one-shot batch job does, so
      // a round count that flipped with box speed would change what the
      // median mixes.
      var round = 1
      while (round == 1 || now + roundMs.max <= deadline) {
        runRound(round, traced = false)
        round += 1
      }
    }
    heap.active = false
    val runEnd = now

    val calib = {
      val t0 = System.nanoTime()
      spark.range(0L, CalibRows, 1L, 32).select(bit_xor(xxhash64(col("id")))).head()
      (System.nanoTime() - t0) / 1e9
    }
    val untraced = passes.filterNot(_.traced).toSeq
    val failures = passes.filter(_.error.isDefined)
    val metrics = Map(
      "setup_s" -> setupMedians("setup_s"),
      "cold_s" -> roundMedian(untraced, "cold"),
      "warm_s" -> roundMedian(untraced, "warm"),
      "failed_frac" -> failures.size.toDouble / passes.size,
      "heap_live_peak_mb" -> heap.peakMb)
    val cores = spark.sparkContext.defaultParallelism
    val layers = if (trace) {
      val l = new Layers(passes.filter(_.round == 1).toSeq, tracer, cores, isMedia)
      def coldSum(round: Int) = passes.filter(p => p.round == round && p.label == "cold").map(_.totalS).sum
      val spans = l.spans(Map("name" -> opt("workload"), "seed" -> seed,
        "start_ms" -> runStart, "end_ms" -> runEnd))
      Files.write(Paths.get(opt("out")).resolveSibling("spans.jsonl"), spans.map(Json.write).asJava)
      l.metrics(setupMedians, untracedColdS = coldSum(4), tracedColdS = coldSum(3))
    } else Map.empty[String, Double]

    val firstPrint = passes.groupBy(_.query).map { case (q, ps) => q -> ps.head.fingerprint }
    val result = Map(
      "workload" -> opt("workload"), "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "rounds" -> roundMs.size, "round_ms" -> roundMs, "queries" -> queries,
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "java" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "calib_sec" -> calib, "calib_rows" -> CalibRows),
      "setups" -> setupRecs,
      "metrics" -> metrics, "layers" -> layers,
      "attempted" -> passes.size, "failed" -> failures.size,
      "failures" -> failures.map(p => Map("query" -> p.query, "round" -> p.round,
        "pass" -> p.label, "error" -> p.error.get)),
      "fingerprints" -> firstPrint,
      "passes" -> passes.map(p => Map("query" -> p.query, "round" -> p.round,
        "pass" -> p.label, "traced" -> p.traced, "build_s" -> p.buildS,
        "plan_s" -> p.planS, "action_s" -> p.actionS, "fingerprint" -> p.fingerprint,
        "ok" -> p.error.isEmpty)))
    Files.writeString(Paths.get(opt("out")), Json.write(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the result maps. */
object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
