package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.SparkEntry

/** Benchmark driver. One JVM runs one workload and prints, as its last
  * stdout line, `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`
  * with the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`) of [[Metrics]]. `perfbench/run.py` builds and launches it.
  * Every reported time is wall time less the share the host withheld
  * ([[Steal]]).
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *      --setup-start "MS BUSY STEAL" [--data DIR]
  * Main --pin --data DIR --work DIR      (write every key's result)
  * Main --selftest                       (generator and key-list checks)
  * Main --list-metrics                   (print the metric registry)
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val flags = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def arg(k: String): String = flags.getOrElse(k,
      throw new IllegalArgumentException(s"missing argument $k"))
    if (argv.contains("--list-metrics")) Metrics.print()
    else if (argv.contains("--selftest")) sys.exit(SelfTest.run())
    else {
      Steal.start()
      val spark = session(Paths.get(flags.getOrElse("--work", ".perfbench_work")))
      try {
        if (argv.contains("--pin")) {
          val threw = Analytics.warm(spark, arg("--data"), Analytics.Keys,
            Paths.get(arg("--work")).resolve("results"))
          if (threw.nonEmpty) sys.exit(1)
        } else {
          val seed = arg("--seed").toLong
          val seconds = arg("--seconds").toInt
          require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
          val trace = arg("--trace") match {
            case "0" => false
            case "1" => true
            case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
          }
          val run = new Run(spark, Paths.get(arg("--work")), seed, seconds, trace,
            flags.get("--data"), Steal.parse(arg("--setup-start")))
          val result = arg("--workload") match {
            case "cdc_bigstate"   => run.cdc(Cdc.BigState)
            case "cdc_jdbc_dirty" => run.cdc(Cdc.JdbcDirty)
            case "analytics_mix"  => run.analytics()
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          result.notes.foreach(n => System.err.println(s"[perfbench] $n"))
          println(result.json)
        }
      } finally spark.stop()
    }
  }

  /** Session config values as in `graft.Bench`, scratch dirs under `work`. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Outcome of one workload run. `failedKeys` names the analytics keys that
  * threw; `run.py` adds the keys whose result differs from the pinned one
  * and drops the field from the line it prints.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double)], notes: Seq[String], failedKeys: Seq[String] = Nil) {
  def json: String = {
    val units = Metrics.units
    val ms = metrics.map { case (k, v) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "${units(k)}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, """ +
      s""""failed_keys": ${failedKeys.map("\"" + _ + "\"").mkString("[", ", ", "]")}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** The typical key of a mix of heavy and sub-second keys: a median of
    * such a mix falls in the gap between the two strata and jumps from one
    * stratum to the other between runs.
    */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** The slowest quarter of a series, at most 11 samples: the samples at
    * or beyond the highest order statistic with min(10, n/4) above it.
    */
  def tailCount(n: Int): Int = math.max(1, math.min(10, n / 4)) + 1

  /** Mean of the [[tailCount]] slowest samples. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val top = xs.sorted.takeRight(math.min(xs.size, tailCount(xs.size)))
      top.sum / top.size
    }
}

final class Run(spark: SparkSession, work: Path, seed: Long, seconds: Int, trace: Boolean,
    data: Option[String], setupStart: Steal.Sample) {

  /** From `run.py`'s start of set-up to `endMs`, less the stolen share. */
  private def setupS(endMs: Long): Double = {
    val given = Steal.at(endMs).map(Steal.given(setupStart, _)).getOrElse(1.0)
    (endMs - setupStart.ms) / 1e3 * given
  }

  /** Epoch-ms start and end of a micro-batch. */
  private def interval(p: StreamingQueryProgress): (Long, Long) = {
    val s = Instant.parse(p.timestamp).toEpochMilli
    (s, s + p.durationMs.get("triggerExecution").longValue)
  }

  /** First trigger start to last batch end, in seconds less stolen time. */
  private def drainSeconds(ps: Seq[StreamingQueryProgress]): Double =
    if (ps.isEmpty) 0.0
    else {
      val (s, e) = (interval(ps.head)._1, interval(ps.last)._2)
      Steal.adjust((e - s) / 1e3, s, e)
    }

  /** Block-manager memory and disk still held, and the cached blocks. */
  private def retained(): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    ((infos.map(_.memSize).sum + infos.map(_.diskSize).sum) / (1024.0 * 1024.0),
      infos.map(_.numCachedPartitions.toLong).sum.toDouble)
  }

  def cdc(shape: Cdc.Shape): Result = {
    val base = Cdc.drain(spark, shape, seed, seconds, work.resolve(s"${shape.name}-run"), None)
    val setupEndMs = System.currentTimeMillis() - (System.nanoTime() - base.setupEndNs) / 1000000L
    val lat = base.progress.map { p =>
      val (s, e) = interval(p)
      Steal.adjust((e - s).toDouble, s, e)
    }
    val drainS = drainSeconds(base.progress)
    val stealNote = base.progress.headOption.map(p => f"host steal in the timed phase: " +
      f"${Steal.stolen(interval(p)._1, interval(base.progress.last)._2) * 100}%.1f%% of runnable CPU time")
    val events = base.progress.map(_.numInputRows).sum.toDouble
    val expectedBatches = Cdc.timedBatches(shape, seconds)
    val batchNote =
      if (base.progress.size == expectedBatches) Nil
      else Seq(s"timed phase ran ${base.progress.size} batches, expected $expectedBatches")
    val eventsPerS = if (drainS > 0) events / drainS else 0.0
    val e2e = Seq(
      "setup_s" -> setupS(setupEndMs),
      "events_per_s" -> eventsPerS,
      "batch_p50_ms" -> Stats.median(lat),
      "batch_tail_ms" -> Stats.tail(lat))
    if (!trace)
      Result(base.failed == 0 && batchNote.isEmpty, base.records, base.failed, e2e,
        base.notes ++ batchNote ++ stealNote)
    else {
      val tracer = new Tracer(spark.sparkContext).attach()
      val traced = try Cdc.drain(spark, shape, seed, seconds,
        work.resolve(s"${shape.name}-traced"), Some(tracer))
      finally tracer.detach()
      tracer.write(work.resolve(s"${shape.name}-spans.jsonl"))
      val tracedS = drainSeconds(traced.progress)
      val sameState = traced.stateHash == base.stateHash && base.stateHash.nonEmpty
      val notes = base.notes ++ traced.notes ++ batchNote ++
        (if (sameState) Nil else Seq(s"traced state ${traced.stateHash} != untraced ${base.stateHash}")) :+
        f"tracing overhead: ${tracedS / drainS - 1}%.3f of the untraced drain time (${tracedS}%.2f s vs ${drainS}%.2f s)"
      val failed = base.failed + traced.failed + (if (sameState) 0 else base.records)
      val (mb, _) = retained()
      val layers = traced.layers ++ Map(
        "retained_storage_mb" -> mb,
        "trace.overhead_ratio" -> (if (drainS > 0) tracedS / drainS - 1 else 0.0))
      Result(failed == 0 && batchNote.isEmpty, base.records + traced.records, failed,
        Metrics.perLayerValues(layers), notes)
    }
  }

  def analytics(): Result = {
    val dir = data.getOrElse(throw new IllegalArgumentException("analytics_mix needs --data"))
    val keys = Analytics.order(seed)
    // warm pass: every key once, its result written for run.py to check
    val warmThrew = Analytics.warm(spark, dir, keys, work.resolve("results"))
    val setupEndMs = System.currentTimeMillis()
    System.gc() // start the timed pass on a collected heap, not on the warm pass's garbage
    val passes = math.max(1, seconds / 10)
    val passStartMs = System.currentTimeMillis()
    val runs = (1 to passes).map(_ => Steal.timed(Analytics.pass(spark, dir, keys, None)))
    val suiteS = Stats.median(runs.map(_._1))
    val perKey = keys.map(k => k -> Stats.median(runs.map(_._2.find(_.key == k).get.wallS))).toMap
    val threw = runs.flatMap(_._2).filter(_.failed).map(_.key).distinct
    val failedKeys = (warmThrew ++ threw).distinct
    val walls = keys.map(perKey)
    System.err.println(keys.map(k => f"$k=${perKey(k)}%.3f").mkString("[perfbench] key walls (s): ", " ", ""))
    val e2e = Seq(
      "setup_s" -> setupS(setupEndMs),
      "events_per_s" -> keys.size / suiteS,
      "batch_p50_ms" -> Stats.geomean(walls) * 1e3,
      "batch_tail_ms" -> Stats.tail(walls) * 1e3)
    val notes = threw.map(k => s"$k threw in the timed pass") :+
      f"host steal in the timed pass: ${Steal.stolen(passStartMs, System.currentTimeMillis()) * 100}%.1f%% of runnable CPU time"
    if (!trace) Result(failedKeys.isEmpty, keys.size, failedKeys.size, e2e, notes, failedKeys)
    else {
      val tracer = new Tracer(spark.sparkContext).attach()
      val (tracedS, timings) =
        try Steal.timed(Analytics.pass(spark, dir, keys, Some(tracer))) finally tracer.detach()
      tracer.write(work.resolve("analytics_mix-spans.jsonl"))
      val (mb, blocks) = retained()
      val layers = Analytics.layers(tracer, timings) ++ Map(
        "suite_s" -> suiteS,
        "heavy_keys_s" -> Analytics.Heavy.map(perKey).sum,
        "short_keys_s" -> Analytics.Short.map(perKey).sum,
        "retained_storage_mb" -> mb,
        "spark.retained_checkpoint_blocks" -> blocks,
        "trace.overhead_ratio" -> (tracedS / suiteS - 1))
      val allFailed = (failedKeys ++ timings.filter(_.failed).map(_.key)).distinct
      Result(allFailed.isEmpty, keys.size, allFailed.size, Metrics.perLayerValues(layers),
        notes :+ f"tracing overhead: ${tracedS / suiteS - 1}%.3f of the untraced pass ($tracedS%.2f s vs $suiteS%.2f s)",
        allFailed)
    }
  }
}

/** The metric registry: names and units, end-to-end then per-layer. It
  * must list exactly the names in BENCHMARK.json (run.py and the
  * self-test compare them).
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "1/s", "batch_p50_ms" -> "ms", "batch_tail_ms" -> "ms")

  val consumerLayers: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms", "sources.read_ms" -> "ms",
    "microbatch.planning_ms" -> "ms", "microbatch.wal_commit_ms" -> "ms",
    "microbatch.commit_offsets_ms" -> "ms", "microbatch.self_ms" -> "ms",
    "parse.ms" -> "ms", "parse.jobs" -> "count", "parse.valid_ratio" -> "ratio",
    "upsert.ms" -> "ms", "upsert.jobs" -> "count", "upsert.tasks" -> "count",
    "upsert.task_cpu_ms" -> "ms", "upsert.state_read_mb" -> "MB", "upsert.shuffle_mb" -> "MB",
    "upsert.written_mb" -> "MB", "upsert.written_bytes_per_event" -> "B",
    "upsert.columns_kept_ratio" -> "ratio",
    "route.ms" -> "ms", "route.jobs" -> "count", "route.records" -> "count",
    "route.written_mb" -> "MB", "route.reason_correct_ratio" -> "ratio",
    "jdbc.ms" -> "ms", "jdbc.tasks" -> "count", "jdbc.task_ms_max" -> "ms",
    "jdbc.rows" -> "count", "jdbc.columns_kept_ratio" -> "ratio",
    "spark.gc_ms" -> "ms", "state_bytes_per_key" -> "B")

  val analyticsLayers: Seq[(String, String)] =
    Analytics.Modules.flatMap { case (m, _) => Seq(
      s"$m.wall_s" -> "s", s"$m.construct_s" -> "s", s"$m.jobs" -> "count",
      s"$m.stages" -> "count", s"$m.tasks" -> "count", s"$m.task_cpu_s" -> "s",
      s"$m.shuffle_mb" -> "MB", s"$m.spill_mb" -> "MB", s"$m.gc_s" -> "s")
    } ++ Analytics.Targeted.map(k => s"key.$k.wall_s" -> "s") ++ Seq(
      "spark.retained_checkpoint_blocks" -> "count", "suite_s" -> "s",
      "heavy_keys_s" -> "s", "short_keys_s" -> "s")

  val shared: Seq[(String, String)] = Seq(
    "retained_storage_mb" -> "MB", "trace.overhead_ratio" -> "ratio")

  val perLayer: Seq[(String, String)] = consumerLayers ++ analyticsLayers ++ shared

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap

  /** Every per-layer metric, 0 for the layers this workload does not run. */
  def perLayerValues(measured: Map[String, Double]): Seq[(String, Double)] = {
    val unknown = measured.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"unregistered metrics: $unknown")
    perLayer.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }
  }

  def print(): Unit = {
    def list(xs: Seq[(String, String)]) =
      xs.map { case (n, u) => s"""{"name": "$n", "unit": "$u"}""" }.mkString("[", ", ", "]")
    println(s"""{"end_to_end": ${list(endToEnd)}, "per_layer": ${list(perLayer)}, """ +
      s""""workloads": ["cdc_bigstate", "cdc_jdbc_dirty", "analytics_mix"], """ +
      s""""analytics_keys": ${Analytics.Keys.map("\"" + _ + "\"").mkString("[", ", ", "]")}}""")
  }
}

/** Generator determinism and key-list resolution. Exit code 0 = pass. */
object SelfTest {
  def run(): Int = {
    val checks = Seq(
      "same seed, byte-identical fixture and ground truth" -> {
        val a = CdcGen.generate(7L, 10000L, 5000, 0.15)
        val b = CdcGen.generate(7L, 10000L, 5000, 0.15)
        a.digest == b.digest && a.records == b.records
      },
      "another seed, another stream" ->
        (CdcGen.generate(7L, 10000L, 2000, 0.15).digest != CdcGen.generate(8L, 10000L, 2000, 0.15).digest),
      "every bad class occurs" ->
        CdcGen.BadClasses.forall(c => CdcGen.generate(7L, 10000L, 5000, 0.15).count(c) > 0),
      "row images carry 8 columns" ->
        (CdcGen.image(7L, 1L, 0).toMap.keySet == CdcGen.Columns.toSet),
      "analytics keys resolve in SparkEntry.queries" ->
        Analytics.Keys.forall(SparkEntry.queries.contains),
      "analytics keys are distinct" -> (Analytics.Keys.distinct.size == Analytics.Keys.size),
      "targeted keys are in the mix" -> Analytics.Targeted.forall(Analytics.Keys.contains),
      "every module has a key" -> Analytics.Modules.forall { case (_, p) => Analytics.Keys.exists(_.head == p) })
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    if (checks.forall(_._2)) 0 else 1
  }
}
