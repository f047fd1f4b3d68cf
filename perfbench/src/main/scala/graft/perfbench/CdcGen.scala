package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of an OLTP-shaped Debezium change stream.
  *
  * Every row image carries the 8 typed columns of [[Columns]] (about
  * 300 bytes of JSON, like a real OLTP row). The stream mixes
  * auto-increment inserts, updates skewed toward recent ids, a few deletes
  * and immediate redeliveries of the previous record (at-least-once
  * producers retry the record they just sent).
  *
  * The mix is an assumption, not taken from a trace or a standard
  * workload: 35% inserts, 2% deletes, 63% updates, and 2% of records
  * redelivered. An update or delete picks the id `maxId - maxId * u^4`
  * for a uniform u, so a share f^(1/4) of them lands in the newest f of
  * the ids (about 32% in the newest 1%, 56% in the newest 10%).
  * [[Stream.recentShare]] measures this on the generated stream; a change
  * to the state layout that gains from recency should be read against it. A `badFraction` share of
  * the records is corrupt, spread evenly over the four classes of
  * [[BadClasses]], each with a `loop` retry header drawn from 0..2.
  *
  * Alongside the fixture it records the ground truth: the latest image of
  * every key the stream touched (deleted keys map to None) and the class
  * of every bad record. Keys `1..stateKeys` exist before the stream starts
  * with image version 0 ([[image]]). The output is a pure function of the
  * arguments: the same seed gives a byte-identical fixture and truth.
  */
object CdcGen {

  val Columns: Seq[String] =
    Seq("id", "name", "amount", "email", "status", "score", "updated_at", "note")

  val Db = "shop"
  val Table = "acct"
  /** Binlog file of the pre-existing state; sorts before the stream's. */
  val SeedFile = "mysql-bin.000000"
  val StreamFile = "mysql-bin.000001"

  /** Bad-record classes: a kafka tombstone (null value), bytes that are
    * not JSON, an envelope without an id, an envelope with both images
    * null. Tombstones are dropped by the consumer; the others are routed
    * to the error sink and then to retry or DLQ by their loop header.
    */
  val BadClasses: Seq[String] = Seq("tombstone", "nonjson", "noid", "noimage")

  final case class Image(id: Long, name: String, amount: Long, email: String,
      status: String, score: Double, updatedAt: String, note: String) {

    def toMap: Map[String, String] = Map(
      "id" -> id.toString, "name" -> name, "amount" -> amount.toString,
      "email" -> email, "status" -> status, "score" -> score.toString,
      "updated_at" -> updatedAt, "note" -> note)

    def json: String =
      s"""{"id": $id, "name": "$name", "amount": $amount, "email": "$email", """ +
        s""""status": "$status", "score": $score, "updated_at": "$updatedAt", "note": "$note"}"""
  }

  private val Statuses = Array("active", "pending", "suspended", "closed")
  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")

  /** SplitMix64 finaliser: a stateless, well-mixed hash of a long. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def word(h: Long, i: Int): String =
    Words((((h >>> (i * 4)) & 0xF) % Words.length).toInt)

  /** Image of `id` at `version`; version 0 is the pre-existing state. */
  def image(seed: Long, id: Long, version: Int): Image = {
    val h = mix(mix(seed * 31 + id) + version)
    val h2 = mix(h)
    val note = (0 until 16).map(i => word(if (i < 8) h else h2, i % 8)).mkString(" ")
    val secs = (h2 >>> 1) % (86400L * 365)
    Image(
      id = id,
      name = s"${word(h, 0)} ${word(h, 1)} $id v$version",
      amount = (h >>> 1) % 100000L,
      email = s"${word(h2, 2)}.${word(h2, 3)}$id@example.com",
      status = Statuses(((h2 >>> 8) & 3).toInt),
      score = ((h >>> 20) % 100000L) / 100.0,
      updatedAt = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .plusSeconds(secs).toString.replace('T', ' '),
      note = note)
  }

  private def envelope(before: Option[Image], after: Option[Image], op: String,
      pos: Long): String = {
    val b = before.map(_.json).getOrElse("null")
    val a = after.map(_.json).getOrElse("null")
    s"""{"payload": {"before": $b, "after": $a, "source": {"version": "1.1.1.Final", """ +
      s""""connector": "mysql", "name": "dbserver1", "ts_ms": ${1700000000000L + pos}, """ +
      s""""snapshot": "false", "db": "$Db", "table": "$Table", "server_id": 1, "gtid": null, """ +
      s""""file": "$StreamFile", "pos": $pos, "row": 0, "thread": null, "query": null}, """ +
      s""""op": "$op", "ts_ms": ${1700000000000L + pos}}}"""
  }

  /** One generated stream.
    *
    * @param records  (loop header, value) per record, value "" = tombstone
    * @param badClass per record: "" for a valid change, else its bad class
    * @param latest   final image per touched key; None = deleted
    * @param recency  per valid update or delete, `(maxId - id) / maxId` at
    *                 the time of the change: 0 is the newest id
    */
  final case class Stream(records: Vector[(Int, String)], badClass: Vector[String],
      latest: Map[Long, Option[Image]], recency: Vector[Double]) {

    /** Share of updates and deletes that touch the newest `f` of the ids. */
    def recentShare(f: Double): Double =
      if (recency.isEmpty) 0.0 else recency.count(_ < f).toDouble / recency.size

    def count(cls: String): Int = badClass.count(_ == cls)
    /** Bad records that reach the error sink (tombstones are dropped). */
    def routed: Seq[Int] = badClass.indices.filter(i =>
      badClass(i).nonEmpty && badClass(i) != "tombstone")
    def expectedErrors: Int = routed.size
    def expectedRetry(limit: Int): Int = routed.count(i => records(i)._1 + 1 < limit)
    def expectedDlq(limit: Int): Int = routed.count(i => records(i)._1 + 1 >= limit)

    /** Canonical text of fixture plus ground truth, for determinism checks. */
    def digest: String = {
      val md = MessageDigest.getInstance("SHA-256")
      records.foreach { case (l, v) => md.update(s"$l\t$v\n".getBytes(StandardCharsets.UTF_8)) }
      badClass.foreach(c => md.update(s"$c\n".getBytes(StandardCharsets.UTF_8)))
      latest.toSeq.sortBy(_._1).foreach { case (k, v) =>
        md.update(s"$k=${v.map(_.json).getOrElse("-")}\n".getBytes(StandardCharsets.UTF_8))
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Generate `events` records against keys `1..stateKeys`. */
  def generate(seed: Long, stateKeys: Long, events: Int, badFraction: Double): Stream = {
    val rnd = new SplittableRandom(seed)
    val records = Vector.newBuilder[(Int, String)]
    val classes = Vector.newBuilder[String]
    val version = mutable.HashMap.empty[Long, Int]
    val latest = mutable.HashMap.empty[Long, Option[Image]]
    val recency = Vector.newBuilder[Double]
    var maxId = stateKeys
    var previous: Option[String] = None

    def alive(id: Long): Boolean = !latest.get(id).contains(None)
    def current(id: Long): Image =
      latest.get(id).flatten.getOrElse(image(seed, id, version.getOrElse(id, 0)))
    /** An alive id, skewed toward the most recent ones. */
    def pickRecent(): Long = {
      var id = 0L
      while ({
        val u = rnd.nextDouble()
        id = maxId - (maxId * u * u * u * u).toLong
        !alive(id)
      }) ()
      id
    }
    def touch(id: Long): Long = {
      recency += (maxId - id).toDouble / maxId
      id
    }

    var i = 0
    while (i < events) {
      val pos = 1000L + 10L * i
      if (rnd.nextDouble() < badFraction) {
        val cls = BadClasses(rnd.nextInt(BadClasses.size))
        val loop = rnd.nextInt(3)
        val id = pickRecent()
        val value = cls match {
          case "tombstone" => ""
          case "nonjson"   => s"corrupt-frame-$i {payload: <truncated"
          case "noid"      =>
            envelope(None, Some(image(seed, id, 0)), "c", pos).replace(s""""id": $id, """, "")
          case "noimage"   => envelope(None, None, "u", pos)
        }
        records += loop -> value
        classes += cls
      } else if (previous.isDefined && rnd.nextDouble() < 0.02) {
        records += 0 -> previous.get // immediate redelivery: identical bytes
        classes += ""
      } else {
        val r = rnd.nextDouble()
        val value =
          if (r < 0.35) {
            maxId += 1
            val img = image(seed, maxId, 1)
            version(maxId) = 1
            latest(maxId) = Some(img)
            envelope(None, Some(img), "c", pos)
          } else if (r < 0.37) {
            val id = touch(pickRecent())
            val before = current(id)
            latest(id) = None
            envelope(Some(before), None, "d", pos)
          } else {
            val id = touch(pickRecent())
            val before = current(id)
            val v = version.getOrElse(id, 0) + 1
            val img = image(seed, id, v)
            version(id) = v
            latest(id) = Some(img)
            envelope(Some(before), Some(img), "u", pos)
          }
        records += 0 -> value
        classes += ""
        previous = Some(value)
      }
      i += 1
    }
    Stream(records.result(), classes.result(), latest.toMap, recency.result())
  }
}
