package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The analytics mix: a fixed list of `SparkEntry.queries` keys, run one
  * at a time through a noop sink as `graft.Bench` runs them. The seed only
  * permutes the order.
  */
object Analytics {

  /** Keys the ROADMAP targets by name, one or two per open item; each
    * gets a `key.<name>.wall_s`. g02 gets slower with more cores; g10 is a
    * fixpoint loop (D5); s16 is a quadratic truth face; p11 and d22
    * re-derive shared frames; s09 seeds IVF centroids (D4); s15, t04 and
    * t09 regressed in round 17.
    */
  val Targeted: Seq[String] = Seq(
    "g02_triangle_census", "g10_kcore", "s16_knn_hubness", "p11_curation_report",
    "d22_band_sweep_amortized", "s09_ivfpq_ann", "s15_ann_deletion",
    "t04_fingerprint", "t09_repetition")

  /** Heavy stratum: the targeted keys. */
  val Heavy: Seq[String] = Targeted

  /** Short stratum: the first sub-second key by round-17 time of each
    * module prefix, in sorted order, plus the q03 canary. For `c` it is
    * the first key that reads no fixture file: c01–c03 read
    * `CdcPipeline.eventsPath`, an absolute path outside the checkout.
    */
  val Short: Seq[String] = Seq(
    "c04_decoders_golden", "d01_dedup_exact", "m01_media_meta", "p03_train_val_split",
    "q02_filter_project", "s01_cosine_topk", "t01_token_stats", "q03_topk")

  val Keys: Seq[String] = Heavy ++ Short

  /** Operator modules by key prefix. */
  val Modules: Seq[(String, Char)] = Seq(
    "relational" -> 'q', "graph" -> 'g', "similarity" -> 's', "dedup" -> 'd',
    "textops" -> 't', "curation" -> 'p', "multimodal" -> 'm', "cdc" -> 'c')

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Keys)

  final case class Timing(key: String, wallS: Double, failed: Boolean)

  /** One timed pass; each key's wall time is less its stolen share
    * ([[Steal]]). Under a tracer every key is a span with `construct` (the
    * key's constructor, including its eager checkpoint jobs) and `action`
    * (the noop write) children.
    */
  def pass(spark: SparkSession, dir: String, keys: Seq[String],
      tracer: Option[Tracer]): Seq[Timing] = {
    def within[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))
    keys.map { k =>
      val fn = SparkEntry.queries(k)
      val (wallS, ok) = Steal.timed(within(k) {
        try {
          val df = within("construct")(fn(spark, dir))
          within("action")(df.write.mode("overwrite").format("noop").save())
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $k failed: $e")
            false
        }
      })
      Timing(k, wallS, !ok)
    }
  }

  /** The warm pass: every key once, its result written as parquet to
    * `out/<key>` as `graft.Verify` writes it, for `run.py` to hash and
    * compare with the pinned value. Keys run concurrently, one session
    * each (shared context, codegen cache and JIT; separate SQL conf and
    * temp views), since a sub-second key keeps one core busy. Returns the
    * keys that threw.
    */
  def warm(spark: SparkSession, dir: String, keys: Seq[String], out: Path): Seq[String] = {
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = keys.map { k =>
        Future {
          try {
            SparkEntry.queries(k)(spark.newSession(), dir).coalesce(1)
              .write.mode("overwrite").parquet(out.resolve(k).toString)
            None
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $k threw in the warm pass: $e")
              Some(k)
          }
        }
      }
      Await.result(Future.sequence(runs), Duration.Inf).flatten
    } finally pool.shutdown()
  }

  /** Per-module and per-key layer metrics of a traced pass. */
  def layers(tracer: Tracer, timings: Seq[Timing]): Map[String, Double] = {
    tracer.drain()
    val keySpans = tracer.all.filter(s => s.parent == -1 && Keys.contains(s.name))
    val mb = 1024.0 * 1024.0
    val perModule = Modules.flatMap { case (module, prefix) =>
      val spans = keySpans.filter(_.name.head == prefix)
      val w = new Work
      spans.foreach(s => w += tracer.workUnder(s))
      val construct = tracer.all.filter(c => c.name == "construct" && spans.exists(_.id == c.parent))
      Seq(
        s"$module.wall_s" -> spans.map(_.ms).sum / 1e3,
        s"$module.construct_s" -> construct.map(_.ms).sum / 1e3,
        s"$module.jobs" -> w.jobs.toDouble,
        s"$module.stages" -> w.stages.toDouble,
        s"$module.tasks" -> w.tasks.toDouble,
        s"$module.task_cpu_s" -> w.taskCpuNs / 1e9,
        s"$module.shuffle_mb" -> (w.shuffleReadBytes + w.shuffleWriteBytes) / mb,
        s"$module.spill_mb" -> w.spillBytes / mb,
        s"$module.gc_s" -> w.gcMs / 1e3)
    }
    val byKey = timings.map(t => t.key -> t.wallS).toMap
    (perModule ++ Targeted.map(k => s"key.$k.wall_s" -> byKey(k))).toMap
  }
}
