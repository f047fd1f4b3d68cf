package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraftConfig
import graft.sources.{CdcSources, KafkaShapedSource}
import graft.streaming.{CdcStreaming, Consumer, JdbcSink}

/** The two consumer workloads. Each drains a generated backlog through
  * the real entry point (`Consumer.start` into the parquet state sink,
  * `CdcStreaming.startJdbc` into in-memory Derby) behind the Kafka-shaped
  * source, in batches of [[BatchSize]] changes.
  *
  * A run first drains the shape's warm-up batches (set-up: session,
  * codegen, JIT), then appends the timed backlog and drains it. The backlog size is
  * fixed by `--seconds`, never by a timer, so every run of a workload does
  * the same work.
  */
object Cdc {

  val BatchSize = 1000
  val RepublishLimit = 3
  /** Fixture partitions, like a small kafka topic. */
  val Partitions = 2

  /** Workload shape: pre-existing keys, warm-up batches, timed batches per
    * 10 measured seconds, share of bad records, and whether the JDBC sink is
    * the target. Timed batches keep getting faster for a few batches after
    * the cold first one, hence the warm-up.
    */
  final case class Shape(name: String, stateKeys: Long, warmBatches: Int, batchesPer10s: Int,
      badFraction: Double, jdbc: Boolean)

  val BigState = Shape("cdc_bigstate", 300000L, 3, 4, 0.0, jdbc = false)
  val JdbcDirty = Shape("cdc_jdbc_dirty", 10000L, 2, 6, 0.15, jdbc = true)

  def timedBatches(shape: Shape, seconds: Int): Int =
    math.max(2, shape.batchesPer10s * seconds / 10)

  /** Result of draining one generated stream. */
  final case class Drain(setupEndNs: Long, progress: Seq[StreamingQueryProgress],
      records: Int, failed: Long, notes: Seq[String], stateHash: String,
      layers: Map[String, Double])

  private def cfg: GraftConfig = GraftConfig.fromEnv(Map(
    "SERVER" -> "dbserver1", "DBNAME" -> CdcGen.Db, "TABLE" -> CdcGen.Table))

  private def sinkPaths(dir: Path) = CdcStreaming.SinkPaths(
    dir.resolve("state").toString, dir.resolve("errors").toString,
    dir.resolve("retry").toString, dir.resolve("dlq").toString)

  // ------------------------------------------------------------ seeding
  /** Pre-existing keys `1..n` as parsed changes (parseBatch's valid shape). */
  private def seedChanges(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val img = udf((id: Long) => CdcGen.image(seed, id, 0).toMap)
    spark.range(1, n + 1).select(
      lit(CdcGen.Db).as("db"), lit(CdcGen.Table).as("tbl"), lit("I").as("op"),
      col("id"), img(col("id")).as("after"), lit(CdcGen.SeedFile).as("file"),
      col("id").as("pos"), lit(0).as("row"))
  }

  private val DerbyColumns =
    "id BIGINT PRIMARY KEY, name VARCHAR(100), amount BIGINT, email VARCHAR(100), " +
      "status VARCHAR(16), score DOUBLE, updated_at VARCHAR(32), note VARCHAR(200)"

  private def seedDerby(url: String, seed: Long, n: Long): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(s"CREATE TABLE ${CdcGen.Table} ($DerbyColumns)")
      conn.setAutoCommit(false)
      val st = conn.prepareStatement(s"INSERT INTO ${CdcGen.Table} VALUES (?, ?, ?, ?, ?, ?, ?, ?)")
      (1L to n).foreach { id =>
        val im = CdcGen.image(seed, id, 0)
        st.setLong(1, id); st.setString(2, im.name); st.setLong(3, im.amount)
        st.setString(4, im.email); st.setString(5, im.status); st.setDouble(6, im.score)
        st.setString(7, im.updatedAt); st.setString(8, im.note)
        st.addBatch()
        if (id % 1000 == 0) st.executeBatch()
      }
      st.executeBatch()
      conn.commit()
    } finally conn.close()
  }

  // ------------------------------------------------------ traced bodies
  /** The batch bodies of `Consumer.start` and `CdcStreaming.startJdbc`:
    * the same public calls in the same order, one span around each.
    */
  private def tracedQuery(spark: SparkSession, tracer: Tracer, shape: Shape,
      source: DataFrame, paths: CdcStreaming.SinkPaths, url: String,
      checkpoint: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("batch", id) {
          val read0 = SourceClock.readNs.get()
          val (valid, invalid) = tracer.span("parse", id)(CdcStreaming.parseBatch(batch.cache()))
          if (shape.jdbc) {
            val forTable = valid.filter(col("tbl") === CdcGen.Table)
            if (!tracer.span("parse", id)(forTable.isEmpty))
              tracer.span("jdbc", id)(JdbcSink.applyChanges(forTable, url, CdcGen.Table))
          } else if (!tracer.span("parse", id)(valid.isEmpty))
            tracer.span("upsert", id)(CdcStreaming.upsertBatch(spark, valid, paths.state))
          tracer.span("route", id) {
            if (!invalid.isEmpty)
              CdcStreaming.routeFailures(spark, invalid, paths, RepublishLimit)
          }
          batch.unpersist()
          readTime.put(id, (SourceClock.readNs.get() - read0) / 1e6)
        }
        ()
      }
      .start()

  private val readTime = new java.util.concurrent.ConcurrentHashMap[Long, Double]()

  // ---------------------------------------------------------- one drain
  /** Generate, seed, drain warm-up then timed backlog, check. */
  def drain(spark: SparkSession, shape: Shape, seed: Long, seconds: Int, dir: Path,
      tracer: Option[Tracer]): Drain = {
    Files.createDirectories(dir)
    val t0 = System.nanoTime()
    def stage(what: String): Unit =
      System.err.println(f"[perfbench] ${shape.name}: $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val warm = shape.warmBatches * BatchSize
    val events = warm + timedBatches(shape, seconds) * BatchSize
    val stream = CdcGen.generate(seed, shape.stateKeys, events, shape.badFraction)
    val paths = sinkPaths(dir)
    val url = s"jdbc:derby:memory:perfbench_${dir.getFileName};create=true"
    if (shape.jdbc) seedDerby(url, seed, shape.stateKeys)
    else CdcStreaming.upsertBatch(spark, seedChanges(spark, seed, shape.stateKeys), paths.state)
    stage(s"generated and seeded ${shape.stateKeys} keys")
    System.err.println(Seq(0.01, 0.1, 0.5).map(f => f"${stream.recentShare(f) * 100}%.1f%% in the newest ${f * 100}%.0f%%")
      .mkString(s"[perfbench] ${shape.name}: updates and deletes by id recency: ", ", ", ""))

    val fixture = dir.resolve("topic.log").toString
    KafkaShapedSource.writeFixture(fixture, stream.records.take(warm))
    val topic = s"dbserver1.${CdcGen.Db}.${CdcGen.Table}"
    val raw = tracer match {
      case None => CdcSources.kafkaShapedStream(spark, fixture, topic, Partitions, Some(BatchSize.toLong))
      case Some(_) => spark.readStream.format(TracedSource.FORMAT)
        .option("path", fixture).option("topic", topic)
        .option("numPartitions", Partitions.toString)
        .option("maxOffsetsPerTrigger", BatchSize.toString).load()
    }
    val source = CdcSources.fromKafkaFrame(raw)
    val checkpoint = dir.resolve("checkpoint").toString
    val query = tracer match {
      case Some(t) => tracedQuery(spark, t, shape, source, paths, url, checkpoint)
      case None if shape.jdbc => CdcStreaming.startJdbc(spark, source, url, CdcGen.Table,
        paths, RepublishLimit, checkpoint)
      case None => Consumer.start(spark, cfg, source, paths, checkpoint)
    }
    var thrown: Option[Throwable] = None
    var setupEnd = 0L
    var lastWarm = -1L
    try {
      query.processAllAvailable()
      lastWarm = query.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
      setupEnd = System.nanoTime()
      stage("warm-up batches drained")
      System.gc() // start the timed backlog on a collected heap
      KafkaShapedSource.appendFixture(fixture, stream.records.drop(warm))
      query.processAllAvailable()
    } catch { case e: Throwable => thrown = Some(e) }
    finally query.stop()
    stage("timed backlog drained")
    val all = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    val progress = all.filter(_.batchId > lastWarm)
    System.err.println(all.map(p => s"${p.batchId}:${p.durationMs.get("triggerExecution")}")
      .mkString(s"[perfbench] ${shape.name}: batch ms (timed after $lastWarm): ", " ", ""))

    val (failed, notes, hash) = thrown match {
      case Some(e) => (events.toLong, Seq(s"stream failed: $e"), "")
      case None => check(spark, shape, seed, stream, paths, url)
    }
    val layers = tracer.map(t => cdcLayers(spark, t, shape, stream, paths, progress, url))
      .getOrElse(Map.empty)
    Drain(setupEnd, progress, events, failed, notes, hash, layers)
  }

  // -------------------------------------------------------------- checks
  private def parquetRows(spark: SparkSession, path: String): Long =
    if (Files.exists(Paths.get(path))) spark.read.parquet(path).count() else 0L

  /** Expected live rows on (id, name, amount). */
  private def expected(spark: SparkSession, shape: Shape, seed: Long,
      stream: CdcGen.Stream): DataFrame = {
    import spark.implicits._
    val touched = stream.latest.keys.toSeq.toDF("id")
    val img = udf((id: Long) => CdcGen.image(seed, id, 0).name)
    val amt = udf((id: Long) => CdcGen.image(seed, id, 0).amount)
    val untouched = spark.range(1, shape.stateKeys + 1).join(touched, Seq("id"), "left_anti")
      .select(col("id"), img(col("id")).as("name"), amt(col("id")).as("amount"))
    val live = stream.latest.toSeq.collect { case (id, Some(im)) => (id, im.name, im.amount) }
      .toDF("id", "name", "amount")
    untouched.unionByName(live)
  }

  /** Order-independent digest of (id, name, amount) rows. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("name"), col("amount"))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def derbyState(spark: SparkSession, url: String): DataFrame = {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    val rows = try {
      val rs = conn.createStatement().executeQuery(s"SELECT id, name, amount FROM ${CdcGen.Table}")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toVector
    } finally conn.close()
    rows.toDF("id", "name", "amount")
  }

  /** (failed operations, notes, state hash): every key whose state differs
    * from the ground truth and every sink row-count mismatch is a failure.
    */
  private def check(spark: SparkSession, shape: Shape, seed: Long, stream: CdcGen.Stream,
      paths: CdcStreaming.SinkPaths, url: String): (Long, Seq[String], String) = {
    val got = if (shape.jdbc) derbyState(spark, url)
      else CdcStreaming.currentState(spark, paths.state).select("id", "name", "amount")
    val want = expected(spark, shape, seed, stream)
    val (gn, gh) = digest(got)
    val (wn, wh) = digest(want)
    val stateFailed =
      if (gn == wn && gh == wh) 0L
      else got.exceptAll(want).count() + want.exceptAll(got).count()
    val sinks = Seq(
      ("errors", parquetRows(spark, paths.errors), stream.expectedErrors.toLong),
      ("retry", parquetRows(spark, paths.retry), stream.expectedRetry(RepublishLimit).toLong),
      ("dlq", parquetRows(spark, paths.dlq), stream.expectedDlq(RepublishLimit).toLong))
    val sinkFailed = sinks.map { case (_, g, w) => math.abs(g - w) }.sum
    val notes = (if (stateFailed > 0) Seq(s"state: $stateFailed rows differ ($gn vs $wn expected)") else Nil) ++
      sinks.collect { case (n, g, w) if g != w => s"$n sink: $g rows, expected $w" }
    (stateFailed + sinkFailed, notes, f"$gn%d:$gh%016x")
  }

  // ------------------------------------------------------- layer metrics
  private def median(xs: Seq[Double]): Double = Stats.median(xs)

  private def cdcLayers(spark: SparkSession, tracer: Tracer, shape: Shape,
      stream: CdcGen.Stream, paths: CdcStreaming.SinkPaths,
      progress: Seq[StreamingQueryProgress], url: String): Map[String, Double] = {
    tracer.drain()
    val timed = progress.map(_.batchId).toSet
    val spans = tracer.all.filter(s => timed.contains(s.batch))
    val byBatch = spans.groupBy(_.batch)
    val n = timed.size.max(1)
    val allBatches = (stream.records.size + BatchSize - 1) / BatchSize
    val events = progress.map(_.numInputRows).sum.toDouble.max(1.0)
    def layerSpans(name: String) = spans.filter(_.name == name)
    def perBatchMs(name: String): Double =
      median(timed.toSeq.map(b => byBatch.getOrElse(b, Nil).filter(_.name == name).map(_.ms).sum))
    def work(name: String): Work = {
      val w = new Work
      layerSpans(name).foreach(s => w += tracer.workUnder(s))
      w
    }
    def dur(key: String): Double = median(progress.map(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val mb = 1024.0 * 1024.0
    val parse = work("parse")
    val upsert = work("upsert")
    val route = work("route")
    val jdbc = work("jdbc")
    val all = new Work
    spans.filter(_.name == "batch").foreach(s => all += tracer.workUnder(s))

    val errorRows = parquetRows(spark, paths.errors).toDouble
    val retryDlqRows = parquetRows(spark, paths.retry) + parquetRows(spark, paths.dlq)
    val tombstones = stream.count("tombstone").toDouble
    val total = stream.records.size.toDouble
    val trigger = dur("triggerExecution")
    val parts = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
      "commitOffsets").map(dur).sum

    val stateCols =
      if (shape.jdbc) 0.0
      else CdcStreaming.currentState(spark, paths.state).columns.count(CdcGen.Columns.contains)
        .toDouble / CdcGen.Columns.size
    Map(
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "sources.read_ms" -> median(timed.toSeq.map(b => readTime.getOrDefault(b, 0.0))),
      "microbatch.planning_ms" -> dur("queryPlanning"),
      "microbatch.wal_commit_ms" -> dur("walCommit"),
      "microbatch.commit_offsets_ms" -> dur("commitOffsets"),
      "microbatch.self_ms" -> math.max(0.0, trigger - parts),
      "parse.ms" -> perBatchMs("parse"),
      "parse.jobs" -> parse.jobs.toDouble / n,
      "parse.valid_ratio" -> (total - tombstones - errorRows) / total,
      "upsert.ms" -> perBatchMs("upsert"),
      "upsert.jobs" -> upsert.jobs.toDouble / n,
      "upsert.tasks" -> upsert.tasks.toDouble / n,
      "upsert.task_cpu_ms" -> upsert.taskCpuNs / 1e6 / n,
      "upsert.state_read_mb" -> upsert.inputBytes / mb / n,
      "upsert.shuffle_mb" -> (upsert.shuffleReadBytes + upsert.shuffleWriteBytes) / mb / n,
      "upsert.written_mb" -> upsert.outputBytes / mb / n,
      "upsert.written_bytes_per_event" -> (if (shape.jdbc) 0.0 else upsert.outputBytes / events),
      "upsert.columns_kept_ratio" -> stateCols,
      "route.ms" -> perBatchMs("route"),
      "route.jobs" -> route.jobs.toDouble / n,
      "route.records" -> (errorRows + retryDlqRows) / allBatches,
      "route.written_mb" -> route.outputBytes / mb / n,
      "route.reason_correct_ratio" -> reasonCorrect(spark, stream, paths),
      "jdbc.ms" -> perBatchMs("jdbc"),
      "jdbc.tasks" -> jdbc.tasks.toDouble / n,
      "jdbc.task_ms_max" -> jdbc.taskMsMax.toDouble,
      "jdbc.rows" -> (if (shape.jdbc) (total - tombstones - errorRows) / allBatches else 0.0),
      "jdbc.columns_kept_ratio" -> (if (shape.jdbc) derbyColumnsKept(url, stream) else 0.0),
      "spark.gc_ms" -> all.gcMs.toDouble / n,
      "state_bytes_per_key" -> (if (shape.jdbc) 0.0 else stateBytesPerKey(spark, paths.state)))
  }

  /** Share of error rows whose reason names the record's real defect. */
  private def reasonCorrect(spark: SparkSession, stream: CdcGen.Stream,
      paths: CdcStreaming.SinkPaths): Double =
    if (!Files.exists(Paths.get(paths.errors))) 0.0
    else {
      val cls = stream.routed.map(i => stream.records(i)._2 -> stream.badClass(i)).toMap
      val keyword = Map("nonjson" -> "unparseable", "noid" -> "id", "noimage" -> "image")
      val rows = spark.read.parquet(paths.errors).select("data", "error").collect()
      rows.count(r => cls.get(r.getString(0)).exists(c =>
        Option(r.getString(1)).exists(_.toLowerCase.contains(keyword(c))))).toDouble /
        math.max(1, rows.length)
    }

  /** Share of the 8 image columns that reached the rows the stream inserted. */
  private def derbyColumnsKept(url: String, stream: CdcGen.Stream): Double = {
    val inserted = stream.latest.collect { case (id, Some(_)) => id }.filter(_ > JdbcDirty.stateKeys)
    if (inserted.isEmpty) 0.0
    else {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT * FROM ${CdcGen.Table} WHERE id > ${JdbcDirty.stateKeys}")
        val n = rs.getMetaData.getColumnCount
        var cells = 0L
        var kept = 0L
        while (rs.next()) (1 to n).foreach { c =>
          cells += 1
          if (rs.getObject(c) != null) kept += 1
        }
        kept.toDouble / math.max(1L, cells)
      } finally conn.close()
    }
  }

  /** Parquet bytes under the state directory per live key. Counts files,
    * not versions, so it holds for any layout the state sink commits.
    */
  private def stateBytesPerKey(spark: SparkSession, statePath: String): Double = {
    val files = Files.walk(Paths.get(statePath))
    val bytes = try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally files.close()
    bytes.toDouble / CdcStreaming.currentState(spark, statePath).count().max(1L)
  }
}
